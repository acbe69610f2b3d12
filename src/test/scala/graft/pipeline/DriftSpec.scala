package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Corpus drift: exact-TVD arithmetic, bucketing rules (reference
  * window, clamping, nulls, hashed domains), PSI/JSD sanity, sidecar
  * parity, the streaming probe, and the one-pass histogram plan.
  */
class DriftSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def specs = Seq(
    Drift.numeric("len", col("len"), bins = 4),
    Drift.categorical("lang", col("lang")))

  private def mk(rows: Seq[(Long, String)]) =
    rows.map { case (l, g) => (l, g) }.toDF("len", "lang")

  test("identical snapshots: zero TVD, ~zero PSI and JSD") {
    val df = mk(Seq((10L, "en"), (20L, "de"), (30L, "en"), (40L, "fr")))
    val rep = Drift.report(df, df, specs).collect()
    assert(rep.length == 2)
    rep.foreach { r =>
      assert(r.getAs[Long]("tvd_num") == 0L, r.toString)
      assert(math.abs(r.getAs[Double]("psi")) < 1e-12)
      assert(math.abs(r.getAs[Double]("jsd")) < 1e-12)
    }
  }

  test("hand-computed exact TVD on a planted categorical shift") {
    // ref: 3 en / 1 de (N=4); cur: 1 en / 3 de (N=4)
    // tvd_num = |3*4-1*4| + |1*4-3*4| = 16; tvd_den = 2*4*4 = 32 (tvd .5)
    val ref = mk(Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "de")))
    val cur = mk(Seq((1L, "en"), (2L, "de"), (3L, "de"), (4L, "de")))
    val r = Drift.report(ref, cur, Seq(Drift.categorical("lang", col("lang"))))
      .collect()(0)
    assert(r.getAs[Long]("tvd_num") == 16L)
    assert(r.getAs[Long]("tvd_den") == 32L)
    assert(math.abs(r.getAs[Double]("tvd") - 0.5) < 1e-15)
    assert(r.getAs[Double]("psi") > 0.0)
    assert(r.getAs[Double]("jsd") > 0.0 &&
      r.getAs[Double]("jsd") <= math.log(2) + 1e-12)
  }

  test("numeric bucketing: reference window, out-of-window clamps to edges") {
    // ref window [0, 39] -> span 40, 4 bins of 10
    val ref = mk(Seq((0L, "en"), (39L, "en")))
    // cur: -100 clamps to bin 0, 1000 clamps to bin 3
    val cur = mk(Seq((-100L, "en"), (1000L, "en")))
    val bounds = Map("len" -> (0L, 39L))
    val h = Drift.histogram(cur, Seq(Drift.numeric("len", col("len"), 4)),
        bounds).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(h == Map("0" -> 1L, "3" -> 1L), h.toString)
  }

  test("null mass is tracked as its own bucket") {
    val ref = Seq((Some(10L), "en"), (Some(20L), "en"))
      .toDF("len", "lang")
    val cur = Seq((Some(10L), "en"), (Option.empty[Long], "en"))
      .toDF("len", "lang")
    val r = Drift.report(ref, cur,
        Seq(Drift.numeric("len", col("len"), 4))).collect()(0)
    // ref: bins {0:1, 3:1}; cur: {0:1, null:1}; N=2 both
    // num = |1*2-1*2| + |1*2-0| + |0-1*2| = 4; den = 8 -> tvd 0.5
    assert(r.getAs[Long]("tvd_num") == 4L)
    assert(r.getAs[Long]("tvd_den") == 8L)
  }

  test("hashedBucket stays in [0, buckets)") {
    val df = (0 until 200).map(i => s"host$i.example").toDF("s")
    val b = df.select(Drift.hashedBucket(col("s"), 8).as("b"))
      .agg(min("b"), max("b"), countDistinct("b")).collect()(0)
    assert(b.getLong(0) >= 0L && b.getLong(1) <= 7L)
    assert(b.getLong(2) >= 2L)
  }

  test("persisted reference parity + bins-mismatch guard") {
    val ref = mk(Seq((10L, "en"), (20L, "de"), (30L, "en"), (40L, "fr")))
    val cur = mk(Seq((15L, "en"), (25L, "de"), (35L, "zh")))
    val path = java.nio.file.Files
      .createTempDirectory("driftref").toString
    Drift.writeReference(ref, specs, path)
    val direct = Drift.report(ref, cur, specs)
      .orderBy("column").collect().map(_.toString).toSeq
    val viaRef = Drift.reportAgainstReference(cur, specs, path)
      .orderBy("column").collect().map(_.toString).toSeq
    assert(direct == viaRef)
    val bad = Seq(Drift.numeric("len", col("len"), bins = 8),
      Drift.categorical("lang", col("lang")))
    assertThrows[IllegalArgumentException] {
      Drift.reportAgainstReference(cur, bad, path)
    }
  }

  test("driftStream: per-batch reports equal the direct per-batch probe") {
    val ref = mk(Seq((10L, "en"), (20L, "de"), (30L, "en"), (40L, "fr")))
    val path = java.nio.file.Files
      .createTempDirectory("driftref_s").toString
    Drift.writeReference(ref, specs, path)
    val b0 = mk(Seq((12L, "en"), (22L, "en")))
    val b1 = mk(Seq((45L, "zh")))
    val inDir = java.nio.file.Files
      .createTempDirectory("drift_in").toString
    b0.coalesce(1).write.parquet(inDir + "/f0")
    b1.coalesce(1).write.parquet(inDir + "/f1")
    // single-batch per file dir; feed both dirs as one globbed source
    val schema = b0.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir + "/f*")
    val outDir = java.nio.file.Files
      .createTempDirectory("drift_out").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("drift_ckpt").toString
    val q = graft.streaming.StreamOps.probeStream(stream,
        Drift.loadReference(_, path)) { (ref, batch, _) =>
      Drift.reportAgainstLoaded(batch, specs, ref)
    } { (res, batchId) =>
      res.select(lit(batchId).as("batch_id"), col("*"))
        .write.mode("append").parquet(outDir)
    }.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .drop("batch_id")
      .orderBy("column", "cur_rows").collect().map(_.toString).toSeq
    val direct = (Drift.reportAgainstReference(b0, specs, path)
        union Drift.reportAgainstReference(b1, specs, path))
      .orderBy("column", "cur_rows").collect().map(_.toString).toSeq
    assert(streamed == direct)
  }

  test("corpusDiff: planted add/remove/change/unchanged statuses") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "content")
    val cur = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "content")
    val got = Drift.corpusDiff(old, cur, "id", "content")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val stats = Drift.diffStats(old, cur, "id", "content")
      .as[(String, Long)].collect().toMap
    assert(stats == Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
    // null ids are ignored, not matched to each other
    val oldN = Seq((Option.empty[Long], "x"), (Some(1L), "a"))
      .toDF("id", "content")
    val curN = Seq((Option.empty[Long], "x")).toDF("id", "content")
    val gotN = Drift.corpusDiff(oldN, curN, "id", "content")
      .as[(Long, String)].collect().toMap
    assert(gotN == Map(1L -> "removed"))
  }

  test("corpusDiff shuffles only (id, hash): no wide columns in exchange") {
    val old = Seq((1L, "a" * 1000, "extra")).toDF("id", "content", "wide")
    val cur = Seq((1L, "a" * 1000, "extra")).toDF("id", "content", "wide")
    val plan = Drift.corpusDiff(old, cur, "id", "content")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("wide"), plan)
  }

  test("histogram is one pass: a single aggregate exchange, no join") {
    val df = mk(Seq((10L, "en"), (20L, "de")))
    val plan = Drift.histogram(df, specs, Map("len" -> (0L, 40L)))
      .queryExecution.executedPlan.toString
    assert(plan.count(_.toString.nonEmpty) > 0)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, plan)
    assert(!plan.contains("Join"), plan)
  }
}
