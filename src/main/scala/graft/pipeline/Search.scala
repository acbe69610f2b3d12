package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    import spark.implicits._
    CacheScope.withScope { scope =>
      val ix = buildIndex(docs, idCol, textCol, scope = scope)
      ix.postings
        .repartitionByRange(numFiles, col("tok"))
        .sortWithinPartitions("tok", "doc_id")
        .write.mode("overwrite").parquet(s"$path/postings")
      ix.docFreq.coalesce(1)
        .write.mode("overwrite").parquet(s"$path/df")
      val sumDl = math.round(ix.avgDl * ix.nDocs)
      Seq((ix.nDocs, ix.avgDl, sumDl))
        .toDF("n_docs", "avgdl", "sum_dl").coalesce(1)
        .write.mode("overwrite").json(s"$path/params")
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
    *    applied df merge.
    *
    * Without an explicit `batchId` (one-shot batch folds) the next
    * free delta id is used; such folds are not replay-guarded.
    */
  def updateIndex(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      batchId: Option[Long] = None): Unit = {
    updateIndexCarried(spark, path, batch, idCol, textCol, batchId,
      carried = None)
    ()
  }

  /** Fold state carried across a stream's batches (the r17 serving-
    * handle discipline applied to the maintenance side): the df/stats/
    * guard sidecar as a frame EQUAL to the on-disk generation (local-
    * checkpointed after each swap, so no lineage tower) plus its
    * sentinel values. Holding it removes the per-fold sidecar parquet
    * read and the sentinel collect job; the swap, the idempotent
    * postings delta and the replay guard are untouched, so the folded
    * index stays bit-identical to build-at-once. Drop the state on any
    * failed fold (re-read from disk); a restarted stream starts from
    * disk anyway.
    */
  final case class Bm25FoldState(dfSide: DataFrame,
      sentinels: Map[String, Long])

  /** [[updateIndex]] with the carried fold state — identical on-disk
    * result; returns the state for the next fold.
    */
  def updateIndexCarried(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Option[Long] = None,
      carried: Option[Bm25FoldState] = None): Bm25FoldState = {
    val st = carried.getOrElse {
      val dfSide = SidecarIO.readWithFallback(spark, s"$path/df")
      Bm25FoldState(dfSide,
        dfSide.filter(isSentinel(col("tok"))).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val dfSide = st.dfSide
    val sentinels = st.sentinels
    val lastBatch = sentinels.get(SentBatch)
    if (batchId.exists(id => lastBatch.exists(id <= _))) return st
    // base stats: sentinels when present (a prior fold), else the
    // build-time params
    val (curN, curSum) = (sentinels.get(SentN),
        sentinels.get(SentSumDl)) match {
      case (Some(n), Some(s)) => (n, s)
      case _ =>
        val p = spark.read.json(s"$path/params").head()
        (p.getAs[Long]("n_docs"),
          if (p.schema.fieldNames.contains("sum_dl"))
            p.getAs[Long]("sum_dl")
          else math.round(p.getAs[Double]("avgdl") *
            p.getAs[Long]("n_docs")))
    }
    // un-id'd folds take the next id past everything ever seen: live
    // delta dirs, the replay guard, AND the compaction floor (a reused
    // id at or below the floor would be ignored by readIndex)
    val effId = batchId.getOrElse(Seq(
      lastBatch.getOrElse(-1L), sentinels.getOrElse(SentFloor, -1L),
      nextDeltaId(spark, path) - 1).max + 1)

    val toks = explodedTokens(batch, idCol, textCol)
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast(LongType).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast(LongType).as("dl"))
    val stats = dl.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("dl")).cast(LongType).as("sumdl")).head()
    val batchN = stats.getAs[Long]("n")
    if (batchN == 0) return st // nothing to fold; guard stays put
    val batchSum = stats.getAs[Long]("sumdl")

    // 1. idempotent postings delta
    tf.join(dl, "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
      .sortWithinPartitions("tok", "doc_id")
      .write.mode("overwrite")
      .parquet(s"$path/postings_delta/batch=$effId")

    // 2. one atomic swap: merged df + stats + replay guard
    val batchDf = tf.groupBy("tok")
      .agg(count(lit(1)).cast(LongType).as("df"))
    val mergedDf = dfSide.filter(!isSentinel(col("tok")))
      .unionAll(batchDf)
      .groupBy("tok").agg(sum(col("df")).cast(LongType).as("df"))
    // rewrite the three fold sentinels, CARRY every other one (the
    // compaction generation/floor must survive subsequent folds)
    val newSentinels = (sentinels - SentN - SentSumDl - SentBatch).toSeq ++
      Seq(SentN -> (curN + batchN), SentSumDl -> (curSum + batchSum),
        SentBatch -> effId)
    val sentinelRows = newSentinels.map { case (t, v) =>
      spark.range(1).select(lit(t).as("tok"), lit(v).as("df"))
    }.reduce(_ unionAll _)
    // checkpoint what the swap writes: the write below reads the cached
    // blocks, and the NEXT fold's merge starts from them instead of
    // re-reading the sidecar it just wrote
    val full = mergedDf.unionAll(sentinelRows).localCheckpoint(true)
    SidecarIO.atomicOverwriteDf(full, s"$path/df")
    Bm25FoldState(full, newSentinels.toMap)
  }

  /** Next unused delta id (max existing + 1) for un-id'd folds. */
  private def nextDeltaId(spark: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(s"$path/postings_delta")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLongOption.getOrElse(-1L) }
      .foldLeft(-1L)(math.max) + 1L
  }

  /** The stored index, ready for [[search]]: base postings plus any
    * fold deltas, df sidecar stripped of its sentinel rows, stats from
    * the sentinels when folds have run (else the build-time params —
    * `avgdl` is the same `Σdl / n` IEEE divide either way, so served
    * scores are bit-identical to a build-at-once index over the same
    * corpus).
    */
  def readIndex(spark: SparkSession, path: String): Bm25Index = {
    val dfSide = SidecarIO.readWithFallback(spark, s"$path/df")
    val sentinels = dfSide.filter(isSentinel(col("tok"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // base generation + delta floor: compaction renames the base and
    // bumps both in the ONE atomic df swap, so every crash point reads
    // a consistent (base, live-deltas) pair
    val baseDir = sentinels.get(SentGen) match {
      case Some(g) => s"$path/postings_gen$g"
      case None => s"$path/postings"
    }
    val floor = sentinels.getOrElse(SentFloor, -1L)
    val base = SidecarIO.readWithFallback(spark, baseDir)
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$path/postings_delta")
    val fs = deltaRoot.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // live deltas = batch dirs above the compaction floor (a fully
    // compacted index leaves none — and an empty root must not reach
    // the parquet reader, which cannot infer a schema from nothing)
    val liveDeltas = if (fs.exists(deltaRoot))
      fs.listStatus(deltaRoot).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("batch=") =>
          n.stripPrefix("batch=").toLongOption.getOrElse(-1L) }
        .filter(_ > floor)
    else Seq.empty
    val postings = if (liveDeltas.nonEmpty)
      base.unionAll(SidecarIO.readWithFallback(spark, deltaRoot.toString)
        .filter(col("batch") > floor) // compacted-away deltas ignored
        .select(col("tok"), col("doc_id"), col("tf"), col("dl")))
    else base
    val (n, avgDl) = (sentinels.get(SentN),
        sentinels.get(SentSumDl)) match {
      case (Some(nv), Some(sv)) => (nv, sv.toDouble / nv)
      case _ =>
        val p = spark.read.json(s"$path/params").head()
        (p.getAs[Long]("n_docs"), p.getAs[Double]("avgdl"))
    }
    Bm25Index(postings, dfSide.filter(!isSentinel(col("tok"))),
      n, avgDl)
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
    val sentinels = dfSide.filter(isSentinel(col("tok"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ix = readIndex(spark, path)
    val gen = sentinels.getOrElse(SentGen, -1L) + 1
    val newFloor = math.max(sentinels.getOrElse(SentFloor, -1L),
      nextDeltaId(spark, path) - 1)
    ix.postings
      .repartitionByRange(numFiles, col("tok"))
      .sortWithinPartitions("tok", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings_gen$gen")
    val newSentinels = (sentinels - SentGen - SentFloor +
      (SentGen -> gen) + (SentFloor -> newFloor)).toSeq
    val sentRows = newSentinels.map { case (t, v) =>
      spark.range(1).select(lit(t).as("tok"), lit(v).as("df"))
    }.reduce(_ unionAll _)
    SidecarIO.atomicOverwriteDf(
      dfSide.filter(!isSentinel(col("tok"))).unionAll(sentRows),
      s"$path/df")
    // cleanup: stale base + compacted-away deltas (ignored either way)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldBase = sentinels.get(SentGen) match {
      case Some(g) => s"$path/postings_gen$g"
      case None => s"$path/postings"
    }
    fs.delete(new org.apache.hadoop.fs.Path(oldBase), true)
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$path/postings_delta")
    if (fs.exists(deltaRoot)) {
      fs.listStatus(deltaRoot).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("batch=") &&
            name.stripPrefix("batch=").toLongOption.exists(_ <= newFloor))
          fs.delete(st.getPath, true)
      }
    }
    ()
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
