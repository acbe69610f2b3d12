package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact (content-hash) deduplication: duplicate groups, keeper
  * selection, incremental new-vs-corpus probes, and the persisted
  * content-hash index with bloom-prefiltered serving.
  */
private[pipeline] trait ExactDedupOps extends Serializable { this: Dedup.type =>

  /** Exact duplicate groups by content hash: one row per duplicated
    * content with the keeper (min id) and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Incremental exact-duplicate pairs — the content-hash member of the
    * incremental family: batch docs whose content equals a corpus doc
    * (batch id first) or another batch doc (once, `a < b`);
    * corpus-internal duplicates excluded. One hash join on md5, batch on
    * the small side.
    */
  def exactPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val l = batch.select(col(idCol).cast("long").as("id_a"),
      md5(col(textCol)).as("h"))
    val r = corpus.select(col(idCol).cast("long").as("id_b"),
        md5(col(textCol)).as("h")).withColumn("new_b", lit(false))
      .union(batch.select(col(idCol).cast("long").as("id_b"),
        md5(col(textCol)).as("h")).withColumn("new_b", lit(true)))
    l.join(r, "h")
      // batch-internal pairs once (a < b); batch-vs-corpus always
      .filter((col("new_b") && col("id_a") < col("id_b")) ||
        (!col("new_b") && col("id_a") =!= col("id_b")))
      .select("id_a", "id_b")
  }

  /** Keep one row per distinct content (the min-id row). */
  def dropExactDuplicates(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Persisted EXACT-dedup index: one row per distinct corpus content
    * (`h` = md5, its min-id keeper, copy count), parquet-partitioned by
    * the 2-hex hash prefix `hp` (256 directories) so a batch probe
    * reads only the prefixes its hashes fall in, plus a BLOOM-FILTER
    * sidecar over `xxhash64(h)` — the per-batch probe tests the bloom
    * FIRST (a pure codegen'd `BloomFilterMightContain` expression, no
    * UDF), so the clean-batch common case of a daily driver touches no
    * index partition at all; false positives are resolved by the real
    * join, and blooms have no false negatives, so the contract is
    * exact.
    *
    * Sizing note for 100 TB: the sidecar bloom is one driver-held blob
    * (~1.2 MB per 10⁶ distinct contents at fpp 0.01); at extreme corpus
    * cardinality raise `fpp` or drop the bloom (`fpp = 1` writes a
    * degenerate always-positive bloom and the probe degrades gracefully
    * to prefix-pruned index joins).
    */
  def writeExactIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, fpp: Double = 0.01): Unit = {
    val spark = corpus.sparkSession
    require(fpp > 0 && fpp <= 1, s"fpp $fpp outside (0,1]")
    corpus.select(col(idCol).cast("long").as("id"),
        md5(col(textCol)).as("h"))
      .groupBy("h")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_copies"))
      .withColumn("hp", substring(col("h"), 1, 2))
      .write.mode("overwrite").partitionBy("hp").parquet(s"$path/hashes")
    // a rebuild replaces the whole index — stale delta batches from a
    // previous build must not union into the new one
    IndexDeltas.clearDeltas(spark, s"$path/hashes")
    writeBloom(spark.read.parquet(s"$path/hashes"), path, fpp)
  }

  /** The bloom sidecar over the index rows `idx`, and the params that
    * record its size and `fpp`. fpp = 1 is the documented opt-out: size
    * the bit array for ONE item and insert all n, saturating it to
    * always-positive — a bytes-sized blob whose probe prunes nothing (no
    * false negatives possible). Both are replaced through
    * [[SidecarIO.swap]], so an append that crashes mid-rewrite leaves
    * the previous bloom and params readable.
    */
  private def writeBloom(idx: DataFrame, path: String, fpp: Double): Unit = {
    val spark = idx.sparkSession
    import spark.implicits._
    val n = math.max(1L, idx.count())
    val bloom = idx.select(xxhash64(col("h")).as("hx"))
      .stat.bloomFilter("hx", if (fpp >= 1) 1L else n,
        if (fpp >= 1) 0.5 else fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    SidecarIO.atomicOverwriteDf(Seq(Tuple1(bos.toByteArray)).toDF("bloom"),
      s"$path/bloom")
    SidecarIO.writeParams(spark, s"$path/params", "distinctContents" -> n,
      "fpp" -> fpp)
  }

  /** Per-batch exact-dedup decisions against a persisted
    * [[writeExactIndex]]: one row per batch document —
    * `(id, status, keep_id)` with status `dup_of_corpus` (keeper = the
    * index keeper), `dup_in_batch` (content new to the corpus but
    * repeated in the batch; keeper = min batch id), or `new` (keeper =
    * itself). Deterministic and windowless, so the DuckDB oracle
    * replays it exactly.
    *
    * Scale path: bloom prefilter (map-only) → index join restricted to
    * the surviving hash prefixes (true partition pruning via an `isin`
    * on the partition column; the prefix list is ≤256 strings collected
    * driver-side — small by construction) → batch-internal min-per-hash
    * aggregate. A batch with no bloom hits never opens an index file.
    */
  def exactKeepFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    exactKeepFromLoaded(loadExactIndex(spark, path), batch, idCol,
      textCol)

  /** Fixed per-index state of the exact-dedup probe: the bloom sidecar
    * BYTES (a driver head() per call otherwise — one full sidecar read
    * per micro-batch in a serving stream) plus the tombstone-reduced
    * hash frame. Load once per stream; fold the index → reload.
    */
  final case class LoadedExactIndex(path: String,
    bloomBytes: Array[Byte], hashes: DataFrame)

  def loadExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): LoadedExactIndex =
    LoadedExactIndex(path,
      SidecarIO.readWithFallback(spark, s"$path/bloom")
        .head().getAs[Array[Byte]]("bloom"),
      dropTombstoned(spark, path,
        IndexDeltas.rows(spark, s"$path/hashes"), "h"))

  /** [[exactKeepFromIndex]] against a pre-loaded handle. */
  def exactKeepFromLoaded(ix: LoadedExactIndex,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim
    val bloomBytes = ix.bloomBytes
    val bh = batch.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h"))
    val mightContain = graftshim.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        graftshim.resolvedExpression(lit(bloomBytes)),
        graftshim.resolvedExpression(xxhash64(col("h")))))
    val positive = bh.filter(mightContain)
    val prefixes = positive.select(substring(col("h"), 1, 2).as("hp"))
      .distinct().collect().map(_.getString(0)).toSeq
    val spark = batch.sparkSession
    val idxMatches =
      if (prefixes.isEmpty)
        spark.emptyDataFrame
          .select(lit("").as("h"), lit(0L).as("keep_id")).limit(0)
      else
        ix.hashes.filter(col("hp").isin(prefixes: _*))
          .join(positive.select(col("h")).distinct(), "h")
          .select(col("h"), col("keep_id"))
    val bmin = bh.groupBy("h").agg(min("id").as("bkeep"))
    bh.join(idxMatches.withColumnRenamed("keep_id", "ckeep"),
        Seq("h"), "left")
      .join(bmin, "h")
      .select(col("id").as(idCol),
        when(col("ckeep").isNotNull, lit("dup_of_corpus"))
          .when(col("id") =!= col("bkeep"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("ckeep"), col("bkeep")).as("keep_id"))
  }

  // -------------------------------------------------------------------
  // index tombstones — delete-by-content without rebuild

  /** Roll the exact index FORWARD: append contents the index does not
    * yet hold (anti-join on the stored hashes — an index-sized read,
    * never a corpus rescan) and rebuild the bloom sidecar from the
    * updated hash set. The bloom rebuild is NOT optional: an appended
    * content missing from the bloom would prefilter to "absent" and
    * resurface as `new` — a false NEGATIVE, the one failure mode the
    * bloom contract forbids (stale-positive after tombstones is safe;
    * stale-negative after appends is not).
    *
    * The new rows land through the shared [[IndexDeltas]] layer as a
    * batch-stamped `hashes.delta/batch=<id>` directory — EXACTLY-ONCE
    * by overwrite-by-id (the previous `mode("append")` spelling
    * double-inserted hashes on a replay, duplicating every later probe
    * row for that content), crash-safe folded by
    * [[compactExactIndex]]. The bloom rebuild from the merged rows is
    * idempotent by construction.
    *
    * Pass one row per content (e.g. a refresh delta's `kept` docs);
    * duplicate contents within `docs` collapse to their min id here.
    */
  def appendToExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String,
      textCol: String, batchId: Long = -1L): Unit = {
    val id = if (batchId >= 0) batchId
      else IndexDeltas.nextAppendId(spark, s"$path/hashes")
    val existing = IndexDeltas.rows(spark, s"$path/hashes",
      excludeBatchId = id).select("h")
    val delta = docs.select(col(idCol).cast("long").as("id"),
        md5(col(textCol)).as("h"))
      .groupBy("h")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_copies"))
      .join(existing, Seq("h"), "left_anti")
      .withColumn("hp", substring(col("h"), 1, 2))
    IndexDeltas.writeDelta(delta, s"$path/hashes", id, Seq("hp"))
    writeBloom(IndexDeltas.rows(spark, s"$path/hashes"), path,
      SidecarIO.readParams(spark, s"$path/params").getAs[Double]("fpp"))
  }

  /** Fold live exact-index deltas into a fresh base generation
    * (crash-safe, [[IndexDeltas.compact]]); rows are distinct across
    * generations by the append-time anti-join, so the fold is the
    * identity union. The bloom sidecar needs no rewrite — folding
    * moves rows, it adds none.
    */
  def compactExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexDeltas.compact(spark, s"$path/hashes", Seq("hp"))
}
