package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** BM25 full-text retrieval — the lexical-search member of the
  * retrieval stack (the sparse complement of [[Similarity]]'s dense
  * ANN): build an inverted index over a document corpus once, then
  * serve batched keyword queries as top-k ranked doc lists.
  *
  * Scoring rule (Okapi BM25): for query q and document d,
  * `score(q,d) = Σ_{t∈q} idf(t) · tf_norm(t,d)` with
  * `tf_norm = (tf·(k1+1)) / (tf + k1·((1−b) + b·(dl/avgdl)))`.
  * The oracle-gated idf is the LOG-FREE Robertson ratio
  * `((N − df) + 0.5)/(df + 0.5) + 1` — same ranking intent as the
  * classical `ln` form but every step a plain IEEE divide/add,
  * bit-reproducible across engines (`ln` is not guaranteed
  * correctly-rounded the same way across libm implementations — the
  * [[TextAnalysis.tfidfKeywords]] discipline; the `ln` variant is the
  * opt-in `logIdf = true` path, excluded from the oracle gate). Each
  * per-term component is quantized to `floor(c · 1e6)` as a LONG
  * BEFORE summation, so the reduction is exact integer math — the
  * score is identical on any partitioning, any cluster size, and in
  * the DuckDB oracle (the [[LanguageModel]] quantized-sum discipline).
  *
  * Scale design: the index build is two hash aggregates over one
  * token explode (tf on `(doc_id, tok)`, then dl and df both derived
  * from the one-row-per-(doc,tok) tf frame — the explode, the
  * dominant cost, runs ONCE). Search joins the postings against a
  * BROADCAST of the query-term set (queries are human-sized; postings
  * are corpus-sized — the big side streams map-only, no shuffle), the
  * per-term doc frequencies arrive through a second broadcast (df
  * restricted to query terms first, so the broadcast is bounded by
  * the query vocabulary, never the corpus vocabulary). The query-term
  * set is de-duplicated on one partition before its broadcast, so set
  * semantics cost no exchange. Scoring then takes two exchanges: the
  * `(query_id, doc_id)` score aggregation (partial map-side combine,
  * keyed, never a hotspot) and the `query_id` partitioning of the
  * scored rows for the top-k window (never a global sort). One
  * `query_id` exchange of the raw candidate rows would save a job but
  * loses the map-side combine and puts a query's every matching
  * posting on one partition; it was measured slower on the sf0.1
  * BM25 workload and on a query of a large corpus's most common terms.
  * The persisted index is range-partitioned and sorted on `tok`, so a
  * selective term probe skips non-matching files on parquet footer
  * min/max alone; its sidecars are read with the schema from their
  * own footers ([[SidecarIO.readWithFallback]]), so serving a search
  * runs no schema-inference job.
  *
  * Collection stats contract: `N` counts documents with ≥ 1 token
  * (blank/NULL docs can never match, carry no length signal, and
  * would skew `avgdl`); `avgdl = Σdl / N` computed as one exact
  * long-sum divide.
  */
object Search {

  /** The inverted index: `postings` has one row per `(tok, doc_id)`
    * with the term frequency and that document's token length;
    * `docFreq` one row per token with its document frequency; `nDocs`
    * and `avgDl` are the collection stats (see contract above).
    */
  final case class Bm25Index(postings: DataFrame, docFreq: DataFrame,
      nDocs: Long, avgDl: Double)

  /** Suite-wide search tokenization (the tf-idf rule): lowercase,
    * trim, split on whitespace, drop empties.
    */
  private def explodedTokens(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** Build the inverted index over a corpus. One explode, then `tf`
    * is the only corpus-sized aggregate; `dl`/`df`/stats all reduce
    * the one-row-per-(doc,tok) tf frame, which is persisted (scoped,
    * releasable) because three aggregates and a join read it.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      scope: CacheScope = CacheScope.session): Bm25Index = {
    val sc = CacheScope.resolve(scope, docs.sparkSession)
    val tf = sc.persist(explodedTokens(docs, idCol, textCol)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast(LongType).as("tf")))
    val dl = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast(LongType).as("dl"))
    val docFreq = tf.groupBy("tok")
      .agg(count(lit(1)).cast(LongType).as("df"))
    val stats = dl.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("dl")).cast(LongType).as("sumdl")).head()
    val n = stats.getAs[Long]("n")
    require(n > 0, "cannot index an empty (or all-blank) corpus")
    val postings = tf.join(dl, "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    Bm25Index(postings, docFreq, n, stats.getAs[Long]("sumdl").toDouble / n)
  }

  /** Per-term quantized BM25 component over a frame carrying
    * `tf, dl, df` — parenthesization is part of the oracle contract
    * (each step must be the identical IEEE op sequence in DuckDB).
    * `nD`/`avgDl` arrive as Columns so the same tree serves both the
    * literal-stats sidecar path and the fully-declarative one-plan
    * path (identical inputs → identical doubles either way).
    */
  private def component(nD: Column, avgDl: Column, k1: Double,
      b: Double, logIdf: Boolean): Column = {
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val idfRatio = ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5)) + lit(1.0)
    val idf = if (logIdf) log(idfRatio) else idfRatio
    val norm = (lit(1.0) - lit(b)) +
      lit(b) * (col("dl").cast("double") / avgDl)
    val tfNorm = (tfD * lit(k1 + 1.0)) / (tfD + lit(k1) * norm)
    floor((idf * tfNorm) * lit(1e6)).cast(LongType)
  }

  /** Shared scoring tail: quantized components → exact integer sum →
    * per-query top-k window. `cand` carries
    * `query_id, doc_id, tf, dl, df` (+ whatever stats columns the
    * `nD`/`avgDl` expressions read), one row per distinct query term
    * ([[queryTerms]]).
    */
  private def scoreAndRank(cand: DataFrame, nD: Column, avgDl: Column,
      k: Int, k1: Double, b: Double, logIdf: Boolean): DataFrame = {
    val scored = cand
      .select(col("query_id"), col("doc_id"),
        component(nD, avgDl, k1, b, logIdf).as("qc"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qc")).cast(LongType).as("score_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score_q"), col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_q"))
  }

  /** The distinct `(query_id, tok)` pairs of a query frame (set
    * semantics, across rows that share a query id too). The set is
    * broadcast whole, so one partition costs nothing: a distinct over
    * a single partition needs no exchange (and no job of its own).
    */
  private def queryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame =
    explodedTokens(queries, queryIdCol, queryTextCol)
      .select(col("doc_id").as("query_id"), col("tok"))
      .coalesce(1).distinct()

  /** Top-`k` documents per query: `(query_id, rank, doc_id, score_q)`
    * with `score_q` the exact quantized-long BM25 sum and `rank`
    * 1-based dense per query (ties break on `doc_id` ascending —
    * deterministic on any partitioning). Queries with no indexed term
    * yield no rows. Query term multiplicity is ignored (set
    * semantics — the standard short-query convention).
    */
  def search(index: Bm25Index, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, logIdf: Boolean = false): DataFrame = {
    require(k >= 1, s"top-k size $k must be >= 1")
    val qt = queryTerms(queries, queryIdCol, queryTextCol)
    // df restricted to query terms BEFORE broadcasting: bounded by the
    // query vocabulary, not the corpus vocabulary
    val qdf = index.docFreq.join(broadcast(qt), "tok")
      .select(col("tok"), col("query_id"), col("df"))
    val cand = index.postings.join(broadcast(qdf), "tok")
    scoreAndRank(cand, lit(index.nDocs.toDouble), lit(index.avgDl),
      k, k1, b, logIdf)
  }

  /** Fully-DECLARATIVE one-plan search — no driver-side job anywhere
    * in plan construction: collection stats ride in as a broadcast
    * one-row cross join (`n`, `sumdl`; `avgdl = sumdl/n` is the same
    * IEEE divide the sidecar path performs on the driver, so both
    * paths score bit-identically). This is the variant the
    * `graft_bm25_search` SQL table function splices (TVF plans are
    * built during analysis and must not run jobs); use the index paths
    * when the corpus is indexed once and probed repeatedly.
    */
  def searchCorpus(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"top-k size $k must be >= 1")
    val tf = explodedTokens(corpus, idCol, textCol)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast(LongType).as("tf"))
    val dl = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast(LongType).as("dl"))
    val docFreq = tf.groupBy("tok")
      .agg(count(lit(1)).cast(LongType).as("df"))
    val stats = dl.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("dl")).cast(LongType).as("sumdl"))
    val qt = queryTerms(queries, queryIdCol, queryTextCol)
    val qdf = docFreq.join(broadcast(qt), "tok")
      .select(col("tok"), col("query_id"), col("df"))
    val cand = tf.join(dl, "doc_id").join(broadcast(qdf), "tok")
      .crossJoin(broadcast(stats))
    scoreAndRank(cand, col("n").cast("double"),
      col("sumdl").cast("double") / col("n").cast("double"),
      k, k1, b, logIdf = false)
  }

  /** DPR-style HARD-NEGATIVE mining — the contrastive-training prep
    * step (Karpukhin et al. 2020: the best negatives are the top
    * BM25-retrieved passages that are NOT the positive): for each
    * query (here a document standing in for its own positive), the
    * top-`k` lexically-closest OTHER documents, re-ranked densely
    * after the self-exclusion so `rank` is 1..k over negatives alone.
    *
    * Plan shape: [[searchCorpus]] to depth `k+1` (the self-match can
    * occupy at most one slot), one filter, one per-query window over
    * ≤ k+1 rows — nothing beyond the search leg's own cost.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"negatives-per-query k $k must be >= 1")
    val cand = searchCorpus(corpus, idCol, textCol, queries,
        queryIdCol, queryTextCol, k + 1, k1, b)
      .filter(col("query_id") =!= col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score_q"), col("doc_id"))
    cand.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("neg_rank"), col("doc_id"),
        col("score_q"))
  }

  /** Persist the index sidecar: postings range-partitioned AND sorted
    * on `tok` (parquet footer min/max then prunes whole files for
    * selective term probes), df as its own table, collection stats +
    * operating point in params.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, numFiles: Int = 8): Unit = {
    val spark = docs.sparkSession
    CacheScope.withScope { scope =>
      val ix = buildIndex(docs, idCol, textCol, scope = scope)
      ix.postings
        .repartitionByRange(numFiles, col("tok"))
        .sortWithinPartitions("tok", "doc_id")
        .write.mode("overwrite").parquet(s"$path/postings")
      SidecarIO.atomicOverwriteDf(ix.docFreq, s"$path/df")
      SidecarIO.writeParams(spark, s"$path/params", "n_docs" -> ix.nDocs,
        "avgdl" -> ix.avgDl, "sum_dl" -> math.round(ix.avgDl * ix.nDocs))
    }
  }

  // Sentinel toks carrying the fold state inside the df sidecar:
  // tokens are split on whitespace, so a LEADING-SPACE tok can never
  // collide with a real term. Folding them into the one atomic df
  // swap makes the stats, the doc frequencies, and the replay guard
  // agree across any crash (the CountMin sentinel discipline).
  private val SentN = " n"
  private val SentSumDl = " sumdl"
  private val SentBatch = " batch"
  private val SentGen = " gen"
  private val SentFloor = " floor"

  private def isSentinel(tok: Column): Column = tok.startsWith(" ")

  /** Collection stats (n, Σdl): the sentinels when a fold wrote them,
    * else the build-time params (indexes written before `sum_dl` was
    * recorded lack it). Σdl/n is the avgdl a build computes, bit for bit.
    */
  private def collectionStats(spark: SparkSession, path: String,
      sentinels: Map[String, Long]): (Long, Long) =
    (sentinels.get(SentN), sentinels.get(SentSumDl)) match {
      case (Some(n), Some(s)) => (n, s)
      case _ =>
        val p = SidecarIO.readParams(spark, s"$path/params")
        val n = p.getAs[Long]("n_docs")
        (n, SidecarIO.param[Long](p, "sum_dl")
          .getOrElse(math.round(p.getAs[Double]("avgdl") * n)))
    }

  private def sentinelsOf(dfSide: DataFrame): Map[String, Long] =
    dfSide.filter(isSentinel(col("tok"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sentinelRows(spark: SparkSession,
      sentinels: Seq[(String, Long)]): DataFrame =
    sentinels.map { case (t, v) =>
      spark.range(1).select(lit(t).as("tok"), lit(v).as("df"))
    }.reduce(_ unionAll _)

  /** Fold a batch of NEW documents into the persisted index at batch
    * cost (the incremental-index discipline: batches carry doc_ids not
    * yet indexed — df additivity and postings disjointness both assume
    * it). Exactly-once under at-least-once replay:
    *
    *  - batch postings land in their own DELTA directory
    *    (`postings_delta/batch=<id>`), so re-writing the same batch id
    *    OVERWRITES rather than appends — idempotent;
    *  - doc frequencies merge additively into the df sidecar in ONE
    *    [[SidecarIO]] atomic swap that also carries the collection
    *    stats (`n`, `Σdl`) and the last-folded batch id as sentinel
    *    rows — a replayed batch (id ≤ stored) is skipped BEFORE any
    *    write, and a crash between the postings delta and the df swap
    *    replays into an idempotent delta overwrite + the not-yet-
    *    applied df merge;
    *  - [[readIndex]] serves a delta only once the swap has moved the
    *    guard to its id, so a reader never sees postings of one
    *    generation with the stats and doc frequencies of another.
    *
    * Without an explicit `batchId` (one-shot batch folds) the id after
    * the guard and the compaction floor is used; such folds are not
    * replay-guarded. Pass the returned state (params = the sentinels)
    * back as `carried` to skip the next fold's df read and sentinel
    * collect ([[SidecarFold]]). A fold runs two exchanges: tf and dl on
    * `doc_id`, written straight to the postings delta with the batch's
    * `n` and `Σdl` observed on that write (no stats job), then the df
    * merge on `tok`, which reads the delta back with its known schema.
    */
  def updateIndex(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, batchId: Option[Long] = None,
      carried: Option[SidecarFold[Map[String, Long]]] = None)
      : SidecarFold[Map[String, Long]] =
    SidecarFold.fold(s"$path/df", batchId, carried) {
      val dfSide = SidecarIO.readWithFallback(spark, s"$path/df")
      val sentinels = sentinelsOf(dfSide)
      SidecarFold(sentinels, dfSide, sentinels.get(SentBatch))
    } { st =>
      val sentinels = st.params
      val (curN, curSum) = collectionStats(spark, path, sentinels)
      // deltas above the guard are orphans of a crashed fold, never
      // served (readIndex serves ids up to the guard only): drop them
      // before this fold writes its own
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      deltaIds(spark, path).filter(id => st.guard.forall(id > _))
        .foreach(id => fs.delete(deltaPath(path, id), true))
      // un-id'd folds take the next id past the guard AND the
      // compaction floor (a reused id at or below the floor would be
      // ignored by readIndex)
      val effId = batchId.getOrElse((st.guard ++ sentinels.get(SentFloor))
        .foldLeft(-1L)(math.max) + 1)

      // 1. idempotent postings delta: tf per (doc, tok) and dl per doc
      // over ONE doc_id exchange (the groupBy and the window both keep
      // the doc_id partitioning; rows sharing a doc_id merge into one
      // document), with the batch stats observed on the write instead
      // of a job of their own
      val byDoc = Window.partitionBy("doc_id")
      val stats = new Observation()
      val tf = explodedTokens(batch, idCol, textCol)
        .repartition(col("doc_id"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).cast(LongType).as("tf"))
        .select(col("tok"), col("doc_id"), col("tf"),
          sum(col("tf")).over(byDoc).cast(LongType).as("dl"),
          min(col("tok")).over(byDoc).as("first_tok"))
        .observe(stats,
          sum(when(col("tok") === col("first_tok"), 1L)).as("n"),
          sum(col("tf")).as("sumdl"))
        .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
      val delta = deltaPath(path, effId)
      tf.sortWithinPartitions("tok", "doc_id")
        .write.mode("overwrite").parquet(delta.toString)
      val observed = stats.get
      // an empty or all-blank batch observes null: nothing to fold, the
      // guard stays put and its (empty) delta goes
      Option(observed("n")).map(_.asInstanceOf[Long]).filter(_ > 0)
        .orElse { fs.delete(delta, true); None }.map { batchN =>
        // 2. the swapped side: merged df + stats + replay guard
        val mergedDf = st.stored.filter(!isSentinel(col("tok")))
          .unionAll(spark.read.schema(tf.schema).parquet(delta.toString)
            .select(col("tok"), lit(1L).as("df")))
          .groupBy("tok").agg(sum(col("df")).cast(LongType).as("df"))
        // rewrite the three fold sentinels, CARRY every other one (the
        // compaction generation/floor must survive subsequent folds)
        val next = (sentinels - SentN - SentSumDl - SentBatch).toSeq ++
          Seq(SentN -> (curN + batchN),
            SentSumDl -> (curSum + observed("sumdl").asInstanceOf[Long]),
            SentBatch -> effId)
        SidecarFold(next.toMap,
          mergedDf.unionAll(sentinelRows(spark, next)), Some(effId))
      }
    }

  private def deltaIds(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/postings_delta")
    IndexDeltas.deltaIds(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def deltaPath(path: String, id: Long) =
    new org.apache.hadoop.fs.Path(s"$path/postings_delta/batch=$id")

  /** The delta ids a reader serves: above the compaction floor and at
    * or below the replay guard. A fold writes its delta before the df
    * swap that bumps the guard, so a delta above the guard belongs to a
    * fold whose stats and doc frequencies are not live yet; with no
    * guard no fold has landed, and no delta is served.
    */
  private def liveDeltaIds(spark: SparkSession, path: String,
      sentinels: Map[String, Long]): Seq[Long] = {
    val floor = sentinels.getOrElse(SentFloor, -1L)
    sentinels.get(SentBatch).fold(Seq.empty[Long])(guard =>
      deltaIds(spark, path).filter(id => id > floor && id <= guard))
  }

  /** The base postings dir the sentinels name. */
  private def baseDir(path: String, sentinels: Map[String, Long]): String =
    sentinels.get(SentGen).fold(s"$path/postings")(g =>
      s"$path/postings_gen$g")

  /** The stored index, ready for [[search]]: base postings plus any
    * fold deltas, df sidecar stripped of its sentinel rows, stats from
    * the sentinels when folds have run (else the build-time params —
    * `avgdl` is the same `Σdl / n` IEEE divide either way, so served
    * scores are bit-identical to a build-at-once index over the same
    * corpus).
    */
  def readIndex(spark: SparkSession, path: String): Bm25Index = {
    val dfSide = SidecarIO.readWithFallback(spark, s"$path/df")
    val sentinels = sentinelsOf(dfSide)
    // base generation, delta floor and replay guard all come from the
    // ONE atomic df swap (compaction renames the base and bumps the
    // floor in it; a fold bumps the guard in it), so every crash point
    // reads a consistent (base, live-deltas, stats) triple
    val base = SidecarIO.readWithFallback(spark, baseDir(path, sentinels))
    // live deltas (a fully compacted index leaves none — and an empty
    // root must not reach the parquet reader, which cannot infer a
    // schema from nothing)
    val live = liveDeltaIds(spark, path, sentinels)
    val postings = if (live.nonEmpty)
      base.unionAll(SidecarIO.readWithFallback(spark,
          s"$path/postings_delta")
        // compacted-away and not-yet-swapped deltas ignored
        .filter(col("batch").isin(live: _*))
        .select(col("tok"), col("doc_id"), col("tf"), col("dl")))
    else base
    val (n, sumDl) = collectionStats(spark, path, sentinels)
    Bm25Index(postings, dfSide.filter(!isSentinel(col("tok"))),
      n, sumDl.toDouble / n)
  }

  /** Fold the accumulated stream deltas back into one range-partitioned
    * sorted base (footer min/max term pruning restored after many
    * [[updateIndex]] folds left one delta dir per batch). Crash-safe by
    * GENERATION: the merged postings land in a fresh
    * `postings_gen<g>` directory, then the base pointer and the delta
    * FLOOR (deltas at or below it are ignored by [[readIndex]]) bump
    * together in the one atomic df swap — before the swap readers see
    * old base + live deltas, after it the new base with those deltas
    * ignored; no state double- or under-counts. Stale dirs are dropped
    * last (ignored either way if the cleanup dies).
    */
  def compactIndex(spark: SparkSession, path: String,
      numFiles: Int = 8): Unit = {
    val dfSide = SidecarIO.readWithFallback(spark, s"$path/df")
    val sentinels = sentinelsOf(dfSide)
    val ix = readIndex(spark, path)
    val gen = sentinels.getOrElse(SentGen, -1L) + 1
    // only deltas readIndex serves: one above the guard is a crashed
    // fold's, and compacting it in would count it twice on its replay
    val newFloor = (liveDeltaIds(spark, path, sentinels) :+
      sentinels.getOrElse(SentFloor, -1L)).max
    ix.postings
      .repartitionByRange(numFiles, col("tok"))
      .sortWithinPartitions("tok", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings_gen$gen")
    SidecarIO.atomicOverwriteDf(
      dfSide.filter(!isSentinel(col("tok"))).unionAll(sentinelRows(spark,
        (sentinels - SentGen - SentFloor +
          (SentGen -> gen) + (SentFloor -> newFloor)).toSeq)),
      s"$path/df")
    // cleanup: stale base + compacted-away deltas (ignored either way)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(baseDir(path, sentinels)), true)
    deltaIds(spark, path).filter(_ <= newFloor).foreach(id =>
      fs.delete(deltaPath(path, id), true))
  }

  /** Daily-driver search against the persisted sidecar: read + probe,
    * nothing corpus-sized recomputed.
    */
  def searchFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    search(readIndex(spark, path), queries, queryIdCol, queryTextCol,
      k, k1, b)
}
