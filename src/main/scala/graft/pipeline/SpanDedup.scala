package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-SPAN detection — the substring-level member of the
  * dedup suite (the "exact substring deduplication" of Lee et al. 2022,
  * arXiv:2107.06499): a fixed-width token window is slid over every
  * document, window content is hashed, and every occurrence of a
  * window seen elsewhere in the corpus EXCEPT its first (corpus order:
  * lowest (doc, start)) is flagged; flagged window starts merge into
  * maximal token spans per document. Sits between [[LineDedup]] (whole
  * repeated lines) and [[Dedup.ngramJaccardPairs]] (whole-document
  * similarity): it finds verbatim repeated REGIONS — licence blocks,
  * quoted passages, template paragraphs — wherever they sit inside
  * otherwise-distinct documents.
  *
  * Scale design (100 TB): the window table has one row per token
  * position — the honest cost of substring-level dedup in a
  * shuffle-based engine (the suffix-array construction of the paper is
  * the single-machine alternative; a hash-window pass is how the same
  * semantics distributes). Everything keyed by window hash is PARTIAL-
  * AGG ONLY: the first-occurrence rule is `min(struct(id, start))` per
  * hash — no rank window over the hash partition, so a window
  * duplicated 100M times combines map-side instead of serializing
  * through one hot reducer. The span merge is a per-document window
  * (bounded by document length). The rewrite joins each document's own
  * span list back by id and filters tokens through one higher-order
  * lambda — interpreted, not codegen, and documented as such: rewriting
  * is once-per-corpus work dominated by the window pass anyway.
  */
object SpanDedup {

  /** Token array of `textCol` under the suite-wide counting rule
    * ([[graft.Queries.tokenCountSql]] shape): NULL and blank text are
    * ZERO tokens — `split` alone would yield `[""]` (one phantom token,
    * so `n_tokens`=1 and `n_removed` could go negative) or a null array
    * (document silently dropped).
    */
  private def toks(textCol: Column): Column = {
    val t = trim(coalesce(textCol, lit("")))
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, " "))
  }

  /** (id, s, h): md5 of each `windowTokens`-token window, `s` the
    * 0-based token index of the window start. Documents shorter than
    * one window emit nothing.
    *
    * JVM kernel, not the declarative
    * `posexplode(transform(sequence, i => md5(concat_ws(slice))))` form:
    * Catalyst higher-order lambdas are NOT whole-stage-codegen'd — the
    * slice + concat + md5 ran INTERPRETED once per token position, the
    * dominant cost of every span operator (the 2.5 s single-stage window
    * pass in the sf0.1 profile). Same tokenization (trim of spaces,
    * `split(" ")` keeping empty tokens), same window strings, same md5
    * hex — row-identical output, one compiled flatMap.
    */
  def windowHashes(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens $windowTokens must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    Dedup.spread(docs.select(col(idCol).cast("long"),
        col(textCol).cast("string")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        windowHashRows(id, text, windowTokens) }
      .toDF("id", "s", "h")
  }

  /** One document's `(id, s, h)` window-hash rows — semantics pinned to
    * the former Column form: Spark `trim` strips ' ' only (NOT Java
    * `String.trim`, which also strips control chars), `split(t, " ")`
    * keeps interior empty tokens (limit -1), windows join with single
    * spaces, md5 is lowercase hex over UTF-8 bytes.
    */
  private[pipeline] def windowHashRows(id: Long, text0: String,
      w: Int): Iterator[(Long, Int, String)] = {
    val text = if (text0 == null) "" else text0
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    if (e == b) return Iterator.empty
    val toks = text.substring(b, e).split(" ", -1)
    val n = toks.length
    if (n < w) return Iterator.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    val hex = "0123456789abcdef".toCharArray
    (0 to n - w).iterator.map { s =>
      sb.setLength(0)
      var k = 0
      while (k < w) {
        if (k > 0) sb.append(' '); sb.append(toks(s + k)); k += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      val hc = new Array[Char](32)
      var i = 0
      while (i < 16) {
        hc(2 * i) = hex((d(i) >> 4) & 0xf); hc(2 * i + 1) = hex(d(i) & 0xf)
        i += 1
      }
      (id, s, new String(hc))
    }
  }

  /** Maximal duplicated token spans per document: every window
    * occurrence except the corpus-first one (lowest `(id, s)` per
    * hash), merged when overlapping or adjacent. Output
    * `(id, span_start, span_end)` with `span_end` exclusive, 0-based
    * token indices.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, docs.sparkSession)
    val w = sc.persist(windowHashes(docs, idCol, textCol, windowTokens))
    // first occurrence per hash by skew-safe partial aggregation —
    // deliberately NOT row_number() over the hash partition
    val firsts = w.groupBy("h")
      .agg(count(lit(1)).as("n"),
        min(struct(col("id"), col("s"))).as("first"))
      .filter(col("n") >= 2)
      .select(col("h"), col("first"))
    val flagged = w.join(firsts, "h")
      .filter(struct(col("id"), col("s")) =!= col("first"))
      .select(col("id"), col("s"))
    mergeSpans(flagged, windowTokens)
  }

  /** Merge flagged window starts `(id, s)` into maximal spans
    * (gaps-and-islands; the window partitions by document, bounded by
    * document length).
    */
  private def mergeSpans(flagged: DataFrame,
      windowTokens: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("s")
    val prevEnd = max(col("s") + windowTokens)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("_new", when(prevEnd.isNull ||
        col("s") > prevEnd, 1).otherwise(0))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + windowTokens).as("span_end"))
      .drop("_island")
  }

  /** Offline corpus window index: `hashes/` holds one row per DISTINCT
    * window hash, partitioned by the first hash byte (a layout/file-size
    * bound only — the probe join reads every partition, since a batch's
    * window hashes cover all 256 prefixes; the probe's cost bound is the
    * hash shuffle of batch ∪ index rows, not a pruned scan); `params/`
    * records the window width and corpus size. Window TEXT is never stored —
    * the hash is what a probe needs. The per-batch contract
    * ([[duplicateSpansFromIndex]]): a batch window matching ANY corpus
    * hash is a duplicate (the corpus copy precedes the batch by
    * definition); batch windows absent from the corpus keep-first
    * WITHIN the batch. Equivalent to [[duplicateSpans]] over
    * corpus ∪ batch restricted to batch documents whenever batch ids
    * sort after corpus ids — spec-checked.
    */
  def writeSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, windowTokens: Int): Unit = {
    val spark = corpus.sparkSession
    windowHashes(corpus, idCol, textCol, windowTokens)
      .select(col("h")).distinct()
      .withColumn("hp", substring(col("h"), 1, 2))
      .write.mode("overwrite").partitionBy("hp").parquet(s"$path/hashes")
    // a rebuild replaces the whole index — stale delta batches from a
    // previous build must not union into the new one
    IndexDeltas.clearDeltas(spark, s"$path/hashes")
    // row count, not a distinct-id shuffle (see writeLineIndex)
    val nDocs = corpus.count()
    SidecarIO.writeParams(spark, s"$path/params",
      "windowTokens" -> windowTokens, "corpusDocs" -> nDocs)
  }

  /** Roll the span index FORWARD with a batch's window hashes — the
    * daily-arrival path that previously forced a rebuild. The delta is
    * the batch's distinct window hashes MINUS those the index already
    * holds (an index-sized anti-join, never a corpus rescan), landed
    * through the shared [[IndexDeltas]] layer: batch-stamped
    * `hashes.delta/batch=<id>` directories, exactly-once by
    * overwrite-by-id (the anti-join excludes the batch's OWN delta, so
    * a replay recomputes the identical rows), folded by
    * [[compactSpanIndex]].
    * `params/corpusDocs` keeps recording the BASE build size.
    */
  def appendToSpanIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: Long = -1L): Unit = {
    val w0 = SidecarIO.readParams(spark, s"$path/params")
      .getAs[Long]("windowTokens").toInt
    val id = if (batchId >= 0) batchId
      else IndexDeltas.nextAppendId(spark, s"$path/hashes")
    val fresh = windowHashes(batch, idCol, textCol, w0)
      .select(col("h")).distinct()
      .join(IndexDeltas.rows(spark, s"$path/hashes", excludeBatchId = id)
        .select("h"), Seq("h"), "left_anti")
      .withColumn("hp", substring(col("h"), 1, 2))
    IndexDeltas.writeDelta(fresh, s"$path/hashes", id, Seq("hp"))
  }

  /** Fold live span-index deltas into a fresh base generation
    * (crash-safe, [[IndexDeltas.compact]]); rows are distinct across
    * generations by the append-time anti-join, so the fold is the
    * identity union.
    */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexDeltas.compact(spark, s"$path/hashes", Seq("hp"))

  /** Per-batch duplicated spans against a [[writeSpanIndex]] corpus:
    * the batch pays its own window pass, a semi-join against the index
    * scan flags corpus-known windows, and batch-only windows keep-first
    * within the batch (same skew-safe aggregation). The stored window
    * width is authoritative.
    */
  def duplicateSpansFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      scope: CacheScope = CacheScope.session): DataFrame =
    duplicateSpansFromLoaded(loadSpanIndex(spark, path), batch,
      idCol, textCol, scope)

  /** Fixed per-index state of the span probe (stored window width +
    * the base∪delta corpus window frame): load once per serving stream,
    * probe per batch — the per-call params read and delta listing
    * otherwise repeat every micro-batch. Fold the index → reload.
    */
  final case class LoadedSpanIndex(windowTokens: Int,
    corpusHit: DataFrame)

  def loadSpanIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): LoadedSpanIndex =
    LoadedSpanIndex(
      SidecarIO.readParams(spark, s"$path/params")
        .getAs[Long]("windowTokens").toInt,
      // base + live delta batches (appendToSpanIndex); distinct across
      // generations by the append-time anti-join
      IndexDeltas.rows(spark, s"$path/hashes")
        .select(col("h"), lit(true).as("_corpus")))

  /** [[duplicateSpansFromIndex]] against a pre-loaded handle. */
  def duplicateSpansFromLoaded(ix: LoadedSpanIndex, batch: DataFrame,
      idCol: String, textCol: String,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, batch.sparkSession)
    val w0 = ix.windowTokens
    val w = sc.persist(windowHashes(batch, idCol, textCol, w0))
    val probed = w.join(ix.corpusHit, Seq("h"), "left")
    val batchFirsts = w.groupBy("h")
      .agg(count(lit(1)).as("n"),
        min(struct(col("id"), col("s"))).as("first"))
      .filter(col("n") >= 2)
      .select(col("h"), col("first"))
    val flagged = probed.join(batchFirsts, Seq("h"), "left")
      .filter(col("_corpus").isNotNull ||
        (col("first").isNotNull &&
          struct(col("id"), col("s")) =!= col("first")))
      .select(col("id"), col("s"))
    mergeSpans(flagged, w0)
  }

  /** Rewrite `docs` with every duplicated span's tokens removed (the
    * corpus-first occurrence of each window stays — dedup, not
    * deletion). Output: id column (as `idCol`), `text`, `n_tokens`
    * (original), `n_removed` (tokens dropped).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, windowTokens, scope)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    val t = toks(col(textCol))
    val joined = docs
      .select(col(idCol).cast("long").as("id"), t.as("_toks"))
      .join(spans, Seq("id"), "left")
    val inSpan: (Column, Column) => Column = (spansCol, i) =>
      exists(spansCol, sp =>
        i >= sp.getField("span_start") && i < sp.getField("span_end"))
    val kept = when(col("_spans").isNull, col("_toks"))
      .otherwise(filter(col("_toks"),
        (_, i) => !inSpan(col("_spans"), i)))
    joined.select(col("id").as(idCol),
      concat_ws(" ", kept).as("text"),
      size(col("_toks")).cast("long").as("n_tokens"),
      (size(col("_toks")) - size(kept)).cast("long").as("n_removed"))
  }
}
