package graft.pipeline

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** BM25 search: hand-computed scores on a tiny corpus, ranking
  * properties (rarity and saturation), persisted-index parity,
  * determinism under repartitioning, the broadcast-probe plan, and the
  * job budget of serving a search from a folded index.
  */
class SearchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // 4 docs; "rare" appears in one doc, "common" in all, doc 4 repeats
  // "common" heavily (saturation) and is the longest (length norm)
  private lazy val docs = Seq(
    (1L, "common rare alpha"),
    (2L, "common beta gamma"),
    (3L, "common delta epsilon"),
    (4L, "common common common common zeta eta theta"))
    .toDF("doc_id", "text")

  private def q(id: Long, text: String): DataFrame =
    Seq((id, text)).toDF("qid", "qtext")

  /** Reference component, same parenthesization as the operator. */
  private def comp(tf: Long, dl: Long, df: Long, n: Long,
      avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Long = {
    val idf = ((n.toDouble - df.toDouble) + 0.5) / (df.toDouble + 0.5) + 1.0
    val norm = (1.0 - b) + b * (dl.toDouble / avgdl)
    val tfn = (tf.toDouble * (k1 + 1.0)) / (tf.toDouble + k1 * norm)
    math.floor((idf * tfn) * 1e6).toLong
  }

  test("hand-computed score: single rare term") {
    val ix = Search.buildIndex(docs, "doc_id", "text")
    assert(ix.nDocs == 4L)
    assert(ix.avgDl == 16.0 / 4) // 3+3+3+7 tokens
    val hits = Search.search(ix, q(10L, "rare"), "qid", "qtext", k = 5)
      .collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[Long]("doc_id") == 1L)
    assert(hits(0).getAs[Long]("score_q") ==
      comp(tf = 1, dl = 3, df = 1, n = 4, avgdl = 4.0))
  }

  test("rarity dominates: rare-term doc outranks common-term docs") {
    val ix = Search.buildIndex(docs, "doc_id", "text")
    val hits = Search.search(ix, q(10L, "rare common"), "qid", "qtext",
        k = 5).orderBy("rank").collect()
    assert(hits.length == 4)
    assert(hits(0).getAs[Long]("doc_id") == 1L) // rare + common
    // multi-term score is the exact sum of per-term components
    assert(hits(0).getAs[Long]("score_q") ==
      comp(1, 3, 1, 4, 4.0) + comp(1, 3, 4, 4, 4.0))
  }

  test("tf saturation + length norm: repeats beat singles, muted") {
    val ix = Search.buildIndex(docs, "doc_id", "text")
    val hits = Search.search(ix, q(10L, "common"), "qid", "qtext",
        k = 5).orderBy("rank").collect()
    // doc 4 has tf=4 but dl=7: still first, but by less than 4x
    assert(hits(0).getAs[Long]("doc_id") == 4L)
    val s4 = hits(0).getAs[Long]("score_q")
    val s1 = hits(1).getAs[Long]("score_q")
    assert(s4 > s1 && s4 < 4 * s1)
    // ties among docs 1-3 (identical tf/dl) break on doc_id ascending
    assert(hits.map(_.getAs[Long]("doc_id")).drop(1).toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("query term multiplicity is ignored; unknown terms drop") {
    val ix = Search.buildIndex(docs, "doc_id", "text")
    val once = Search.search(ix, q(10L, "rare"), "qid", "qtext", k = 5)
      .collect().map(_.toSeq).toSet
    val thrice = Search.search(ix, q(10L, "rare RARE rare zzz"),
      "qid", "qtext", k = 5).collect().map(_.toSeq).toSet
    assert(once == thrice)
    assert(Search.search(ix, q(10L, "zzz"), "qid", "qtext", k = 5)
      .count() == 0)
    // the same term set split over rows of one query id, with repeats
    // inside and across rows; query 11 rides along untouched
    val key = (df: DataFrame) => df.collect().map(_.toSeq).toSet
    val one = Search.search(ix, q(10L, "rare common zeta"), "qid", "qtext",
      k = 5)
    val split = Search.search(ix, Seq((10L, "rare common rare"),
        (10L, "COMMON zeta"), (11L, "delta"), (10L, "zeta rare"))
      .toDF("qid", "qtext"), "qid", "qtext", k = 5)
    assert(key(split.filter($"query_id" === 10L)) == key(one))
    assert(key(split.filter($"query_id" === 11L)) == key(
      Search.search(ix, q(11L, "delta"), "qid", "qtext", k = 5)))
    // searchCorpus (and so the TVF and hardNegatives) share the tail
    val splitQ = Seq((10L, "rare rare common"), (10L, "zeta common"))
      .toDF("qid", "qtext")
    assert(key(Search.searchCorpus(docs, "doc_id", "text", splitQ,
      "qid", "qtext", k = 5)) == key(one))
  }

  test("persisted index parity + determinism under repartitioning") {
    val path = java.nio.file.Files
      .createTempDirectory("bm25ix").toString
    Search.writeIndex(docs, "doc_id", "text", path, numFiles = 2)
    val queries = Seq((1L, "rare common"), (2L, "zeta delta"))
      .toDF("qid", "qtext")
    val direct = Search.search(Search.buildIndex(docs, "doc_id", "text"),
      queries, "qid", "qtext", k = 3)
    val stored = Search.searchFromIndex(spark, path, queries,
      "qid", "qtext", k = 3)
    val shuffled = Search.search(
      Search.buildIndex(docs.repartition(7), "doc_id", "text"),
      queries, "qid", "qtext", k = 3)
    val key = (df: DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(key(direct) == key(stored))
    assert(key(direct) == key(shuffled))
  }

  test("search plan: probe side broadcast, no shuffle on postings") {
    val ix = Search.buildIndex(docs, "doc_id", "text")
    val plan = Search.search(ix, q(10L, "rare common"), "qid", "qtext",
        k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"postings must not shuffle for a query probe:\n$plan")
  }

  test("one-plan searchCorpus == sidecar search; TVF splices it") {
    val queries = Seq((1L, "rare common"), (2L, "zeta delta"))
      .toDF("qid", "qtext")
    val key = (df: DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaIndex = Search.search(
      Search.buildIndex(docs, "doc_id", "text"),
      queries, "qid", "qtext", k = 4)
    val onePlan = Search.searchCorpus(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 4)
    assert(key(viaIndex) == key(onePlan))
    graft.functions.GraftTableFunctions.register(spark)
    docs.createOrReplaceTempView("bm25_docs_v")
    queries.createOrReplaceTempView("bm25_q_v")
    val viaSql = spark.sql(
      """SELECT query_id, rank, doc_id, score_q
         FROM graft_bm25_search('bm25_docs_v', 'bm25_q_v',
                                'doc_id', 'text', 'qid', 'qtext', 4)""")
    assert(key(viaIndex) == key(viaSql))
  }

  test("blank docs excluded from N and avgdl") {
    val withBlank = docs.unionAll(
      Seq((9L, "   "), (10L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val ix = Search.buildIndex(withBlank, "doc_id", "text")
    assert(ix.nDocs == 4L && ix.avgDl == 4.0)
  }

  test("hardNegatives: self excluded, ranks dense, scores unchanged") {
    // query = doc 1's own text: doc 1 is the top BM25 hit and must NOT
    // appear among its negatives; ranks re-densify after the exclusion
    val queries = docs.select($"doc_id".as("qid"), $"text".as("qtext"))
    val negs = Search.hardNegatives(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 2)
      .orderBy("query_id", "neg_rank")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(negs.nonEmpty)
    assert(negs.forall { case (q, _, d, _) => q != d },
      "a query's own document leaked into its negatives")
    negs.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2) == (1 to rows.size), s"ranks not dense for $q")
      assert(rows.size <= 2)
    }
    // scores are the plain search scores: the depth-3 search minus the
    // self row reproduces every (query, doc, score) triple
    val search3 = Search.searchCorpus(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 3)
      .filter($"query_id" =!= $"doc_id")
      .select("query_id", "doc_id", "score_q")
      .as[(Long, Long, Long)].collect().toSet
    assert(negs.map(r => (r._1, r._3, r._4)).toSet.subsetOf(search3))
  }

  // ---- folded (stream-maintained) indexes -------------------------------

  private val more = Seq(
    (5L, "rare omega common"), (6L, "sigma tau common tau"),
    (7L, "omega omega upsilon"), (8L, "alpha beta rare phi"))
    .toDF("doc_id", "text")
  private lazy val allDocs = docs.unionAll(more)
  private val foldQueries = Seq((1L, "rare common"), (2L, "omega tau"),
    (3L, "alpha phi zzz"), (3L, "rare"))

  /** A persisted index over `base`, then one replay-guarded fold (and
    * so one live delta) per frame of `folds`.
    */
  private def foldedIndex(base: DataFrame, folds: Seq[DataFrame]): String = {
    val path = java.nio.file.Files.createTempDirectory("bm25fold").toString
    Search.writeIndex(base, "doc_id", "text", path, numFiles = 2)
    folds.zipWithIndex.foreach { case (f, i) =>
      Search.updateIndex(spark, path, f, "doc_id", "text", Some(i.toLong))
    }
    path
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("query_id", "rank", "doc_id", "score_q").collect()
      .map(_.toSeq).sortBy(_.take(2).mkString(",")).toSeq

  private def atOnce(corpus: DataFrame, queries: DataFrame): Seq[Seq[Any]] =
    rows(Search.search(Search.buildIndex(corpus, "doc_id", "text"),
      queries, "qid", "qtext", k = 3))

  test("Int and String doc ids: write → fold → read → search == build") {
    val qs = foldQueries.toDF("qid", "qtext")
    for (cast <- Seq("int", "string")) {
      val typed = (df: DataFrame) =>
        df.select(col("doc_id").cast(cast).as("doc_id"), col("text"))
      val path = foldedIndex(typed(docs),
        Seq(typed(more.filter($"doc_id" <= 6L)),
          typed(more.filter($"doc_id" > 6L))))
      val ix = Search.readIndex(spark, path)
      assert(ix.postings.schema("doc_id").dataType.simpleString == cast)
      val got = rows(Search.search(ix, qs, "qid", "qtext", k = 3))
      assert(got.nonEmpty)
      assert(got == atOnce(typed(allDocs), qs), s"doc_id as $cast")
    }
  }

  test("footer-schema reads equal inferred reads, partition column included") {
    val path = foldedIndex(docs, Seq(more.filter($"doc_id" <= 6L),
      more.filter($"doc_id" > 6L)))
    for (dir <- Seq("df", "postings", "postings_delta")) {
      val persisted = SidecarIO.readWithFallback(spark, s"$path/$dir")
      val inferred = spark.read.parquet(s"$path/$dir")
      assert(persisted.schema == inferred.schema, dir)
      assert(persisted.collect().map(_.toSeq).toSet ==
        inferred.collect().map(_.toSeq).toSet, dir)
    }
  }

  test("zero live deltas: fresh and compacted indexes serve build-at-once") {
    val qs = foldQueries.toDF("qid", "qtext")
    val fresh = foldedIndex(allDocs, Nil)
    assert(rows(Search.searchFromIndex(spark, fresh, qs, "qid", "qtext",
      k = 3)) == atOnce(allDocs, qs))
    val compacted = foldedIndex(docs, Seq(more))
    Search.compactIndex(spark, compacted)
    val fs = new Path(compacted).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$compacted/postings_delta"))
      .forall(!_.getPath.getName.startsWith("batch=")))
    assert(rows(Search.searchFromIndex(spark, compacted, qs, "qid",
      "qtext", k = 3)) == atOnce(allDocs, qs))
  }

  test("fold: empty and all-blank batches fold nothing; rows sharing a " +
      "doc_id merge into one document") {
    val qs = foldQueries.toDF("qid", "qtext")
    val path = foldedIndex(docs, Nil)
    val empty = Search.updateIndex(spark, path,
      more.filter(lit(false)), "doc_id", "text", Some(0L))
    assert(empty.guard.isEmpty, "an empty batch moved the guard")
    val blank = Search.updateIndex(spark, path,
      Seq((9L, "   "), (10L, null)).toDF("doc_id", "text"), "doc_id",
      "text", Some(0L), carried = Some(empty))
    assert(blank.guard.isEmpty, "an all-blank batch moved the guard")
    // doc 5 arrives as two rows: one document, tf and dl summed
    val split = Seq((5L, "rare omega"), (5L, "common"), (6L,
      "sigma tau common tau")).toDF("doc_id", "text")
    val st = Search.updateIndex(spark, path, split, "doc_id", "text",
      Some(1L), carried = Some(blank))
    assert(st.guard.contains(1L))
    assert(rows(Search.searchFromIndex(spark, path, qs, "qid", "qtext",
      k = 3)) == atOnce(docs.unionAll(split), qs))
  }

  test("a delta above the df guard is never served; the next fold " +
      "drops it and compaction ignores it") {
    val qs = foldQueries.toDF("qid", "qtext")
    val path = foldedIndex(docs, Seq(more.filter($"doc_id" <= 6L)))
    // a crashed fold's orphan: batch 1's postings written, its df swap
    // never landed
    val orphan = more.filter($"doc_id" > 6L)
    Search.buildIndex(orphan, "doc_id", "text").postings.write
      .parquet(s"$path/postings_delta/batch=1")
    val atGuard = atOnce(docs.unionAll(more.filter($"doc_id" <= 6L)), qs)
    assert(rows(Search.searchFromIndex(spark, path, qs, "qid", "qtext",
      k = 3)) == atGuard)
    Search.compactIndex(spark, path)
    assert(rows(Search.searchFromIndex(spark, path, qs, "qid", "qtext",
      k = 3)) == atGuard)
    // an un-id'd fold takes the id after the guard, over the orphan
    Search.updateIndex(spark, path, orphan, "doc_id", "text")
    assert(rows(Search.searchFromIndex(spark, path, qs, "qid", "qtext",
      k = 3)) == atOnce(allDocs, qs))
  }

  test("df sidecar missing after a crashed swap: the read serves _prev") {
    val qs = foldQueries.toDF("qid", "qtext")
    val path = foldedIndex(docs, Seq(more))
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the swap renamed live → _prev and died before tmp → live
    assert(fs.rename(new Path(s"$path/df"), new Path(s"$path/df_prev")))
    assert(rows(Search.searchFromIndex(spark, path, qs, "qid", "qtext",
      k = 3)) == atOnce(allDocs, qs))
  }

  private def jobsOf[A](body: => A): (A, Int) =
    graft.JobCount.of(spark)(body)

  test("job budget: readIndex 1 job, search 5 jobs and two exchanges") {
    val path = foldedIndex(docs, Seq(more.filter($"doc_id" <= 6L),
      more.filter($"doc_id" > 6L)))
    val qs = foldQueries.toDF("qid", "qtext")
    // schema inference of the df, base and delta sidecars would each
    // add a job: only the sentinel collect may run
    val (ix, readJobs) = jobsOf(Search.readIndex(spark, path))
    assert(readJobs <= 1, s"readIndex ran $readJobs jobs; budget 1")
    // two broadcasts, the score aggregation, the top-k window, the
    // result: a shuffled query-term distinct would add an exchange and
    // a job
    val result = Search.search(ix, qs, "qid", "qtext", k = 3)
    val (got, searchJobs) = jobsOf(result.collect())
    assert(searchJobs <= 5, s"search ran $searchJobs jobs; budget 5")
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(result.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
    assert(exchanges.size == 2,
      s"expected two exchanges:\n${result.queryExecution.executedPlan}")
    assert(got.nonEmpty)
  }

  test("job budget: a fresh index's params read with no job: " +
      "readIndex 1 job, the first fold 5") {
    val path = foldedIndex(docs, Nil)
    // the sentinel collect finds no fold stats, so the build-time params
    // are read, on the driver
    val (_, readJobs) = jobsOf(Search.readIndex(spark, path))
    assert(readJobs <= 1, s"readIndex ran $readJobs jobs; budget 1")
    // the sentinel collect, then the fold's delta write and df swap, two
    // jobs each
    val (_, foldJobs) = jobsOf(Search.updateIndex(spark, path, more,
      "doc_id", "text", Some(0L)))
    assert(foldJobs <= 5, s"first fold ran $foldJobs jobs; budget 5")
  }
}
