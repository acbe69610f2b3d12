package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level LINE deduplication — the boilerplate-removal stage of a
  * web-scale training pipeline (the CCNet / RefinedWeb shape): hash
  * every line, count how many DOCUMENTS carry it, strip lines recurring
  * across more than `maxDocFreq` documents (navigation chrome, cookie
  * banners, license footers), and reassemble each document's surviving
  * lines in their original order.
  *
  * Scale design (100 TB): the whole operator is three shuffles of the
  * LINE table — (1) the doc-frequency aggregation keyed by line,
  * (2) the membership join of exploded lines against the boilerplate
  * set, (3) the per-document reassembly keyed by id — and the
  * boilerplate set itself is tiny by construction (only lines crossing
  * the doc-frequency threshold), so AQE broadcasts the membership join
  * whenever it fits. The offline/per-batch split mirrors the other
  * persisted dedup indexes: [[writeLineIndex]] pays the corpus-wide
  * frequency aggregation ONCE (storing md5 line hashes, not line
  * text), and [[dropBoilerplateFromIndex]] rewrites a daily batch at
  * the cost of the batch's own explode plus a join against the index
  * scan — the corpus is never re-counted.
  *
  * Empty lines are STRUCTURAL, not content: they are exempt from
  * counting and dropping (a blank separator recurring in every
  * document is formatting, and dropping it would fuse unrelated
  * paragraphs).
  */
object LineDedup {

  /** (id, pos, line) — one row per line of `textCol`, `pos` the 0-based
    * line index. `delim` splits LITERALLY (regex-quoted). NULL text
    * behaves as empty text (one empty structural line): posexplode of a
    * null split would emit ZERO rows and silently drop the document
    * from every rewrite — the contract is that no document is lost.
    */
  def explodedLines(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(delim))).as(Seq("pos", "line")))

  /** Per-distinct-line corpus stats: `line`, `doc_freq` (distinct
    * documents carrying it), `occurrences` (total). Empty lines are
    * excluded. One explode + one aggregation keyed by line.
    */
  def lineStats(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    explodedLines(docs, idCol, textCol, delim)
      .filter(length(col("line")) > 0)
      .groupBy("line")
      .agg(countDistinct(col("id")).as("doc_freq"),
        count(lit(1)).as("occurrences"))

  /** Rewrite `docs` with boilerplate lines removed: every non-empty
    * line whose distinct-document frequency exceeds `maxDocFreq` is
    * dropped from every document; survivors rejoin in original order
    * under the same delimiter. Output: id column (as `idCol`), `text`
    * (rewritten; empty string when every line was boilerplate),
    * `n_lines` (original), `n_dropped`.
    */
  def dropBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int, delim: String = "\n",
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq $maxDocFreq must be >= 1")
    val sc = CacheScope.resolve(scope, docs.sparkSession)
    val ex = sc.persist(explodedLines(docs, idCol, textCol, delim))
    val boiler = ex.filter(length(col("line")) > 0)
      .groupBy("line").agg(countDistinct(col("id")).as("doc_freq"))
      .filter(col("doc_freq") > maxDocFreq)
      .select(col("line"), lit(true).as("_boiler"))
    reassemble(ex.join(boiler, Seq("line"), "left"), idCol, delim)
  }

  /** Shared rewrite tail: `labeled` = (line, id, pos, _boiler nullable).
    * One aggregation keyed by id; kept lines sort back into `pos` order
    * inside the aggregated array (no extra sort stage).
    */
  private def reassemble(labeled: DataFrame, idCol: String,
      delim: String): DataFrame = {
    val kept = when(col("_boiler").isNull,
      struct(col("pos"), col("line")))
    labeled.groupBy(col("id"))
      .agg(
        concat_ws(delim,
          transform(array_sort(collect_list(kept)),
            s => s.getField("line"))).as("text"),
        count(lit(1)).as("n_lines"),
        count(col("_boiler")).as("n_dropped"))
      .withColumnRenamed("id", idCol)
  }

  /** Offline corpus line-frequency index: `hashes/` holds one row per
    * distinct non-empty line as (`h` = md5 of the line bytes,
    * `doc_freq`, `occurrences`), partitioned by the first hash byte —
    * this bounds per-file sizes and gives the layout a stable 256-way
    * spread; it does NOT prune the membership probe, which reads every
    * partition by design (a batch's line hashes cover all prefixes
    * after a few thousand lines, and the probe's scan is already tiny:
    * the `doc_freq > maxDocFreq` filter reduces it to the boilerplate
    * set, which AQE then broadcasts). `params/` records the delimiter
    * and corpus size. Line TEXT is not stored — at web scale the distinct-line
    * table is dominated by singleton long lines, and the 16-byte hash
    * is what the per-batch join needs (md5 collisions are negligible
    * at any corpus size reachable here, and a collision only ever
    * over-counts a line's frequency). The threshold is NOT baked in:
    * the index stores raw frequencies and [[dropBoilerplateFromIndex]]
    * applies `maxDocFreq` at read time, so one build serves any
    * operating point.
    */
  def writeLineIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, delim: String = "\n"): Unit = {
    val spark = corpus.sparkSession
    lineStats(corpus, idCol, textCol, delim)
      .select(md5(col("line").cast("binary")).as("h"),
        col("doc_freq"), col("occurrences"))
      .withColumn("hp", substring(col("h"), 1, 2))
      .write.mode("overwrite").partitionBy("hp").parquet(s"$path/hashes")
    // a rebuild replaces the whole index — stale delta batches from a
    // previous build must not merge into the new one
    IndexDeltas.clearDeltas(spark, s"$path/hashes")
    // row count, not a distinct-id shuffle: ids are unique by contract
    // and a second full corpus pass per index build is the kind of cost
    // this module exists to avoid
    val nDocs = corpus.count()
    SidecarIO.writeParams(spark, s"$path/params", "delim" -> delim,
      "corpusDocs" -> nDocs)
  }

  /** Roll the line-frequency index FORWARD with a batch's line stats —
    * an ADDITIVE delta through the shared [[IndexDeltas]] layer: the
    * batch's own `(h, doc_freq, occurrences)` rows land as
    * `hashes.delta/batch=<id>` and [[lineIndexRows]] merges per-hash
    * sums at read, so a line crossing `maxDocFreq` only via
    * base+batch mass is correctly boilerplate. Exactly-once by
    * overwrite-by-id — a replayed batch rewrites the identical rows,
    * nothing double-counts. `params/corpusDocs` keeps recording the
    * BASE build size; the stored delimiter governs the batch split.
    */
  def appendToLineIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: Long = -1L): Unit = {
    val delim = SidecarIO.readParams(spark, s"$path/params")
      .getAs[String]("delim")
    val id = if (batchId >= 0) batchId
      else IndexDeltas.nextAppendId(spark, s"$path/hashes")
    val delta = lineStats(batch, idCol, textCol, delim)
      .select(md5(col("line").cast("binary")).as("h"),
        col("doc_freq"), col("occurrences"))
      .withColumn("hp", substring(col("h"), 1, 2))
    IndexDeltas.writeDelta(delta, s"$path/hashes", id, Seq("hp"))
  }

  /** The merged index rows: per-hash frequency SUMS over base + live
    * deltas (clean indexes skip the merge — base rows are already
    * one-per-hash).
    */
  private def lineIndexRows(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = IndexDeltas.rows(spark, s"$path/hashes")
    if (!IndexDeltas.hasLiveDeltas(spark, s"$path/hashes")) raw
    else raw.groupBy("h", "hp")
      .agg(sum("doc_freq").as("doc_freq"),
        sum("occurrences").as("occurrences"))
  }

  /** Fold live line-index deltas into a fresh base generation — the
    * fold IS the per-hash frequency merge, so the folded base equals a
    * rebuild over corpus ∪ appended batches.
    */
  def compactLineIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexDeltas.compact(spark, s"$path/hashes", Seq("hp"),
      _.groupBy("h", "hp")
        .agg(sum("doc_freq").as("doc_freq"),
          sum("occurrences").as("occurrences")))

  /** Per-batch boilerplate removal against a [[writeLineIndex]] corpus:
    * the batch pays its own explode + md5, joins hashes against the
    * index rows above `maxDocFreq` (a filter-then-join the planner
    * broadcasts when the boilerplate set is small), and reassembles —
    * the corpus frequency aggregation is never re-run. The index
    * delimiter is authoritative: a mismatched `delim` argument would
    * silently count differently, so the stored one is used and
    * returned rows match [[dropBoilerplate]] run with it.
    */
  def dropBoilerplateFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int): DataFrame =
    dropBoilerplateFromLoaded(loadLineIndex(spark, path), batch,
      idCol, textCol, maxDocFreq)

  /** Fixed per-index state of the boilerplate-line probe (stored
    * delimiter + the base∪delta frequency frame): load once per serving
    * stream instead of re-reading the params sidecar and re-listing
    * deltas every micro-batch. Fold the index → reload.
    */
  final case class LoadedLineIndex(delim: String, rows: DataFrame)

  def loadLineIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): LoadedLineIndex =
    LoadedLineIndex(
      SidecarIO.readParams(spark, s"$path/params").getAs[String]("delim"),
      lineIndexRows(spark, path))

  /** [[dropBoilerplateFromIndex]] against a pre-loaded handle. */
  def dropBoilerplateFromLoaded(ix: LoadedLineIndex, batch: DataFrame,
      idCol: String, textCol: String, maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq $maxDocFreq must be >= 1")
    val boiler = ix.rows
      .filter(col("doc_freq") > maxDocFreq)
      .select(col("h"), lit(true).as("_boiler"))
    val ex = explodedLines(batch, idCol, textCol, ix.delim)
      .withColumn("h", md5(col("line").cast("binary")))
    reassemble(ex.join(boiler, Seq("h"), "left").drop("h"),
      idCol, ix.delim)
  }
}
