package graft.pipeline

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Count-Min: never-underestimate, exact cellwise mergeability
  * (build-at-once == merged halves == fold-in-batches), persisted
  * round-trip, determinism under repartitioning, dimension guards,
  * and the broadcast estimate plan.
  */
class CountMinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // zipfish corpus: key k_i appears i times, i = 1..60
  private lazy val corpus = spark.range(1, 61)
    .select(explode(sequence(lit(1), col("id"))).as("rep"),
      concat(lit("k"), col("id")).as("key"))
    .select("key")

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("estimates never underestimate; sum of overshoot is bounded") {
    val sk = CountMin.sketch(corpus, "key", depth = 4, width = 256)
    val keys = spark.range(1, 61)
      .select(concat(lit("k"), col("id")).as("key"),
        col("id").as("exact"))
    val est = CountMin.estimate(sk, keys, "key", depth = 4, width = 256)
      .join(keys, "key")
    assert(est.filter(col("est") < col("exact")).count() == 0,
      "CMS underestimated")
    // 1830 total count over width 256: overshoot stays small
    val over = est.agg(sum(col("est") - col("exact"))).head().getLong(0)
    assert(over < 1830, s"total overshoot $over implausibly large")
    // never-inserted key estimates 0 unless it collides everywhere
    val ghost = CountMin.estimate(sk, Seq("zz_unseen").toDF("key"),
      "key", 4, 256).head().getLong(1)
    assert(ghost >= 0)
  }

  test("build-at-once == merged halves == persisted fold-in") {
    val a = corpus.filter(length(col("key")) === 2) // k1..k9
    val b = corpus.filter(length(col("key")) =!= 2)
    val whole = CountMin.sketch(corpus, "key", 4, 128)
    val merged = CountMin.merge(CountMin.sketch(a, "key", 4, 128),
      CountMin.sketch(b, "key", 4, 128))
    assert(cells(whole) == cells(merged))
    val path = java.nio.file.Files.createTempDirectory("cms").toString
    CountMin.writeSketch(a, "key", 4, 128, path)
    CountMin.updateSketch(spark, path, b)
    val (stored, d, w) = CountMin.readSketch(spark, path)
    assert((d, w) == ((4, 128)))
    assert(cells(stored) == cells(whole))
  }

  test("job budget: params read with no job: readSketch 0 jobs, " +
      "an uncarried fold 3") {
    val path = java.nio.file.Files.createTempDirectory("cmsjobs").toString
    CountMin.writeSketch(corpus.filter(length(col("key")) === 2), "key",
      4, 128, path)
    val (_, readJobs) = graft.JobCount.of(spark)(
      CountMin.readSketch(spark, path))
    assert(readJobs == 0, s"readSketch ran $readJobs jobs; budget 0")
    // the guard collect, then one exchange and the swap
    val (_, foldJobs) = graft.JobCount.of(spark)(CountMin.updateSketch(
      spark, path, corpus.filter(length(col("key")) =!= 2), Some(0L)))
    assert(foldJobs <= 3, s"uncarried fold ran $foldJobs jobs; budget 3")
  }

  test("deterministic under repartitioning") {
    val sk1 = CountMin.sketch(corpus, "key", 4, 256)
    val sk2 = CountMin.sketch(corpus.repartition(13), "key", 4, 256)
    assert(cells(sk1) == cells(sk2))
  }

  test("dimension guards") {
    intercept[IllegalArgumentException] {
      CountMin.sketch(corpus, "key", 4, 100) // not a power of two
    }
    intercept[IllegalArgumentException] {
      CountMin.sketch(corpus, "key", 0, 128)
    }
    intercept[IllegalArgumentException] {
      CountMin.sketch(corpus, "key", 4, 131072) // > 16-bit slice
    }
  }

  test("estimate plan: grid broadcast, no sort-merge join") {
    val sk = CountMin.sketch(corpus, "key", 4, 256)
    val plan = CountMin.estimate(sk, corpus.distinct(), "key", 4, 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast grid join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
