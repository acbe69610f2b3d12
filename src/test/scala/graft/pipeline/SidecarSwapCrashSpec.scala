package graft.pipeline

import graft.SparkTestBase
import java.net.URI
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem under the `crashfs` scheme, crashing (throwing
  * instead of running the step) at the k-th rename or delete once
  * [[CrashingFileSystem.arm]]ed. Steps inside the parquet commit
  * protocol's scratch dirs (`_temporary`, `.spark-staging-*`) are not
  * counted: a crash there only leaves garbage inside a `_tmp` dir, the
  * case the crash before that dir's rename already covers. Armed with a
  * scope, it counts every step on a path containing the scope, commit
  * protocol steps included: a write straight into the live dir has no
  * `_tmp` dir to hold that garbage.
  */
class CrashingFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
}) {
  override def getScheme: String = "crashfs"
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFileSystem.step(s"rename $src -> $dst")
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashingFileSystem.step(s"delete $p")
    super.delete(p, recursive)
  }
}

object CrashingFileSystem {
  final class Crash(what: String) extends RuntimeException(s"crash: $what")

  private var crashAt = 0
  private var steps = 0
  private var scope = ""

  /** Crash at the `k`-th counted step from now (with a `scope`: the
    * k-th step on a path containing it); 0 never crashes.
    */
  def arm(k: Int, scope: String = ""): Unit = synchronized {
    crashAt = k; steps = 0; this.scope = scope
  }

  private def step(what: String): Unit = synchronized {
    val counted =
      if (scope.nonEmpty) what.contains(scope)
      else !what.contains("_temporary") && !what.contains(".spark-staging")
    if (counted) {
      steps += 1
      if (steps == crashAt) { crashAt = 0; throw new Crash(what) }
    }
  }
}

/** Crashes every step of a count-min and a BM25 fold — the two additive
  * sidecars, whose replay guard must count a batch exactly once — at
  * generation N, with a batch that makes N+1. After each crash a reader
  * sees N or N+1 (for BM25: the stats, doc frequencies and served top-k
  * together), and a recovery fold of the same batch id lands N+1
  * exactly. The double crash crashes the recovery fold too, at each of
  * its steps: a swap that drops `_prev` before its tmp dir is live loses
  * the sidecar there. The bloom and HLL folds are crashed the way a
  * stream runs them: the crashing fold carries the state of the fold
  * before it, and the recovery folds start from disk, as a stream's
  * next fold does once a failure dropped its state. An exact-index
  * append rewrites the index's params and its bloom; every step of each
  * rewrite is crashed too.
  */
class SidecarSwapCrashSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.crashfs.impl", classOf[CrashingFileSystem].getName)

  /** Runs `fold` with a crash at step `k` of `scope`: true when it
    * crashed (a crash in a Spark task arrives as the cause of a task
    * failure).
    */
  private def crashed(k: Int, scope: String)(fold: => Unit): Boolean = {
    CrashingFileSystem.arm(k, scope)
    try { fold; false }
    catch { case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(_.isInstanceOf[CrashingFileSystem.Crash])
      => true }
    finally CrashingFileSystem.arm(0)
  }

  /** A `crashfs` copy of the generation-N sidecar in `template`. */
  private def fresh(template: String): String = {
    val dir = Files.createTempDirectory("crashfs").toFile
    FileUtils.copyDirectory(new java.io.File(template), dir)
    s"crashfs://${dir.getAbsolutePath}"
  }

  /** For every single and double crash of `fold` over a fresh copy of
    * `template`: `generation` reads N or N+1 after the crashes, and
    * exactly N+1 after a recovery fold.
    */
  private def crashEveryStep[G](template: String, fold: String => Unit,
      generation: String => G, genN: G, genN1: G): Unit =
    crashEveryStep(template, p => () => fold(p), fold, generation, genN,
      genN1)

  /** [[crashEveryStep]] where the crashed fold is `crashing(path)`,
    * returned after any uncrashed setup on the fresh copy `path` (a
    * fold whose state it carries); the recovery folds are `fold`. Only
    * the steps on paths containing `scope` are crashed.
    */
  private def crashEveryStep[G](template: String,
      crashing: String => (() => Unit), fold: String => Unit,
      generation: String => G, genN: G, genN1: G,
      scope: String = ""): Unit = {
    def seesNOrN1(path: String, where: String): Unit = {
      val g = try generation(path) catch {
        case e: Exception => fail(s"nothing readable after $where", e)
      }
      assert(g == genN || g == genN1, s"after $where")
    }
    def recovers(path: String, where: String): Unit = {
      fold(path)
      assert(generation(path) == genN1, s"recovery after $where")
    }
    var k1 = 1
    while ({
      val path = fresh(template)
      val run = crashing(path)
      val crash = crashed(k1, scope)(run())
      if (crash) {
        seesNOrN1(path, s"crash at step $k1")
        recovers(path, s"crash at step $k1")
        var k2 = 1
        while ({
          val twice = fresh(template)
          val first = crashing(twice)
          assert(crashed(k1, scope)(first()))
          val again = crashed(k2, scope)(fold(twice))
          if (again) {
            val where = s"crash at step $k1, then at recovery step $k2"
            seesNOrN1(twice, where)
            recovers(twice, where)
          }
          k2 += 1
          again
        }) ()
      } else assert(generation(path) == genN1, "uncrashed fold")
      k1 += 1
      crash
    }) ()
    // delete tmp, delete _prev, two renames, delete _prev
    assert(k1 - 2 >= 5, s"only ${k1 - 2} steps counted")
  }

  test("count-min: every single and double crash of a fold leaves " +
      "generation N or N+1; the recovery fold counts the batch once") {
    val keys = (i: Int, n: Int) => (0 until n).map(j => s"k${(i + j) % 23}")
    val (base, a, b) = (keys(0, 120), keys(5, 60), keys(11, 60))
    val template = Files.createTempDirectory("cms_template").toString
    CountMin.writeSketch(base.toDF("key"), "key", 4, 64, template)
    CountMin.updateSketch(spark, template, a.toDF("key"), Some(0L))
    def grid(cells: DataFrame) = cells.select("r", "c", "cnt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toList
    crashEveryStep(template,
      path => CountMin.updateSketch(spark, path, b.toDF("key"), Some(1L)),
      path => grid(CountMin.readSketch(spark, path)._1),
      grid(CountMin.sketch((base ++ a).toDF("key"), "key", 4, 64)),
      grid(CountMin.sketch((base ++ a ++ b).toDF("key"), "key", 4, 64)))
  }

  test("BM25: every single and double crash of a fold leaves the df " +
      "sidecar at generation N or N+1; the recovery fold counts the " +
      "batch once") {
    val docs = (from: Long, to: Long) => (from to to).map(i =>
      (i, s"t${i % 7} t${i % 5} t${i % 3} w$i")).toDF("doc_id", "text")
    val (base, a, b) = (docs(1, 12), docs(13, 20), docs(21, 30))
    val template = Files.createTempDirectory("bm25_template").toString
    Search.writeIndex(base, "doc_id", "text", template, numFiles = 2)
    Search.updateIndex(spark, template, a, "doc_id", "text", Some(0L))
    // a generation is the swapped side (stats and doc frequencies) AND
    // what a search serves: the postings delta lands before the swap,
    // so top-k at N+1's postings with N's stats would be neither
    def side(ix: Search.Bm25Index) = (ix.nDocs, ix.avgDl,
      ix.docFreq.collect().map(r => (r.getString(0), r.getLong(1)))
        .sorted.toList)
    val qs = Seq((1L, "t1 t2"), (2L, "w25 t0"), (3L, "w14 w27"))
      .toDF("qid", "qtext")
    def top(ix: Search.Bm25Index) = Search.search(ix, qs, "qid", "qtext",
        k = 5).collect().map(_.toSeq.toList).sortBy(_.toString).toList
    def generation(ix: Search.Bm25Index) = (side(ix), top(ix))
    val (genN, genN1) = (
      generation(Search.buildIndex(base.union(a), "doc_id", "text")),
      generation(Search.buildIndex(base.union(a).union(b), "doc_id",
        "text")))
    assert(genN._2 != genN1._2, "the batch must move the served top-k")
    crashEveryStep(template,
      path => Search.updateIndex(spark, path, b, "doc_id", "text",
        Some(1L)),
      path => generation(Search.readIndex(spark, path)), genN, genN1)
  }

  private def keys(from: Int, to: Int) =
    (from until to).map(i => s"k$i").toDF("key")

  test("bloom: every single and double crash of a carried fold leaves " +
      "generation N or N+1; the fold from disk after it lands N+1") {
    val template = Files.createTempDirectory("bloom_template").toString
    Bloom.writeFilter(keys(0, 40), "key", 1024, 3, template)
    crashEveryStep(template,
      path => {
        val st = Bloom.updateFilter(spark, path, keys(40, 60), "key")
        () => Bloom.updateFilter(spark, path, keys(60, 80), "key", Some(st))
      },
      path => Bloom.updateFilter(spark, path, keys(60, 80), "key"),
      path => Bloom.readFilter(spark, path).words.toSeq,
      Bloom.build(keys(0, 60), "key", 1024, 3).words.toSeq,
      Bloom.build(keys(0, 80), "key", 1024, 3).words.toSeq)
  }

  test("HLL: every single and double crash of a carried fold leaves " +
      "generation N or N+1; the fold from disk after it lands N+1") {
    import org.apache.spark.sql.functions.{col, hll_sketch_estimate}
    val template = Files.createTempDirectory("hll_template").toString
    Sketches.writeSketches(keys(0, 40), Seq("key"), template)
    def estimates(sketches: DataFrame) = sketches.select(col("col_name"),
        hll_sketch_estimate(col("sketch"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    crashEveryStep(template,
      path => {
        val st = Sketches.updateSketches(spark, path, keys(40, 60))
        () => Sketches.updateSketches(spark, path, keys(60, 80), Some(st))
      },
      path => Sketches.updateSketches(spark, path, keys(60, 80)),
      path => estimates(SidecarIO.readWithFallback(spark,
        s"$path/sketches")),
      estimates(Sketches.columnSketches(keys(0, 60), Seq("key"))),
      estimates(Sketches.columnSketches(keys(0, 80), Seq("key"))))
  }

  /** An exact index at generation N (20 base contents, 10 appended)
    * and the append that makes N+1 (10 more: 31-39 and 0).
    */
  private def exactIndexAndAppend(): (String, String => Unit) = {
    val docs = (from: Long, to: Long) => (from to to).map(i =>
      (i, s"content ${i % 40}")).toDF("doc_id", "text")
    val (base, a, b) = (docs(1, 20), docs(21, 30), docs(31, 60))
    val template = Files.createTempDirectory("exact_template").toString
    Dedup.writeExactIndex(base, "doc_id", "text", template)
    Dedup.appendToExactIndex(spark, template, a, "doc_id", "text", 0L)
    (template, path => Dedup.appendToExactIndex(spark, path, b, "doc_id",
      "text", 1L))
  }

  test("exact index: every single and double crash of the params " +
      "rewrite in an append leaves generation N or N+1 readable") {
    val (template, append) = exactIndexAndAppend()
    def params(path: String) = {
      val p = SidecarIO.readParams(spark, s"$path/params")
      (p.getAs[Long]("distinctContents"), p.getAs[Double]("fpp"))
    }
    crashEveryStep(template, path => () => append(path), append, params,
      (30L, 0.01), (40L, 0.01), scope = "/params")
  }

  test("exact index: every single and double crash of the bloom " +
      "rewrite in an append leaves generation N or N+1 loadable") {
    val (template, append) = exactIndexAndAppend()
    def bloom(path: String) =
      Dedup.loadExactIndex(spark, path).bloomBytes.toSeq
    val appended = fresh(template)
    append(appended)
    crashEveryStep(template, path => () => append(path), append, bloom,
      bloom(template), bloom(appended), scope = "/bloom")
  }
}
