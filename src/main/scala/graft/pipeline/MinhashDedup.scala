package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** MinHash/LSH near-duplicate detection: banded signature buckets over
  * word shingles, exact-Jaccard verification, incremental probes, and
  * the persisted signature index.
  */
private[pipeline] trait MinhashDedupOps extends Serializable { this: Dedup.type =>

  /** Roll a minhash index forward: sign `docs` at the index's STORED
    * params and append the bucket/shingle rows. Caller passes only ids
    * the index does not hold (a refresh delta's kept docs) — ids are
    * the row identity and this writer does not rescan to dedupe them.
    */
  def appendToMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String,
      textCol: String): Unit = {
    val p = SidecarIO.readParams(spark, s"$path/params")
    minhashBuckets(docs, idCol, textCol,
        p.getAs[Long]("numHashes").toInt, p.getAs[Long]("bands").toInt,
        p.getAs[Long]("shingleSize").toInt)
      .write.mode("append").parquet(s"$path/buckets")
    shingleSets(docs, idCol, textCol,
        p.getAs[Long]("shingleSize").toInt)
      .write.mode("append").parquet(s"$path/shingles")
  }

  /** Inverted shingle index (id, nsh, s) as a typed flatMap. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = shingleHashArray(if (text == null) "" else text, shingleSize)
        hs.map(h => (id, hs.length, h))
      }.toDF("id", "nsh", "s")
  }

  /** Per-doc (id, shingle-hash array) as a typed map (for pair verify). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, shingleHashArray(if (text == null) "" else text, shingleSize))
      }.toDF("id", "sh")
  }

  /** (id, band, bucket) LSH rows via a JVM minhash kernel. */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val bk = bandBuckets(
          shingleHashArray(if (text == null) "" else text, shingleSize),
          numHashes, bands)
        bk.indices.map(b => (id, b, bk(b)))
      }.toDF("id", "band", "bucket")
  }

  /** One minhash kernel pass per document that keeps both of its
    * outputs: `(id, sh, bk)`, the shingle set and the band buckets
    * (`bk(b)` is band `b`'s bucket). The incremental probes derive
    * their bucket rows ([[bucketRows]]) and verify texts from it.
    */
  private def minhashSketches(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val hs = shingleHashArray(if (text == null) "" else text, shingleSize)
        (id, hs, bandBuckets(hs, numHashes, bands))
      }.toDF("id", "sh", "bk")
  }

  /** The (id, band, bucket) rows of a [[minhashSketches]] frame. */
  private def bucketRows(sketches: DataFrame): DataFrame =
    sketches.select(col("id"), posexplode(col("bk")).as(Seq("band", "bucket")))

  /** The banded minhash signature of one shingle-hash set: the
    * `numHashes` minima split into `bands` bands of
    * `numHashes / bands` rows, each band hashed to one bucket.
    */
  private def bandBuckets(hs: Array[Long], numHashes: Int,
      bands: Int): Array[Long] = {
    val rows = numHashes / bands
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var si = 0
    while (si < hs.length) {
      val h = hs(si)
      var i = 0
      while (i < numHashes) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, i.toLong)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      si += 1
    }
    Array.tabulate(bands) { b =>
      var acc = 1125899906842597L
      var r = 0
      while (r < rows) {
        acc = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
          sig(b * rows + r), acc)
        r += 1
      }
      acc
    }
  }

  /** Near-duplicate candidate pairs via banded MinHash (never all-pairs):
    * join within (band, bucket), then verify with exact n-gram Jaccard.
    * `maxBucketSize` drops degenerate buckets (skew guard).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, df.sparkSession)
    // the KERNEL output is what gets persisted: the skew-guard count and
    // both join sides share one signature pass (the cache previously sat
    // downstream of the anti-join, so the count pass re-ran the kernel)
    val buckets = sc.persist(minhashBuckets(df, idCol, textCol, numHashes,
      bands, shingleSize))
    // skew guard via broadcast anti-join: the oversized-bucket list is
    // tiny (map-side partial agg shrinks it), so the bucket rows are
    // never shuffled for the cap — unlike a count-over-window, which
    // exchanges EVERY row on the bucket key before filtering
    val oversized = buckets.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize).select("band", "bucket")
    val bounded = buckets // map-side probe over the cached rows
      .join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
    val l = bounded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = bounded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // joined on both pair sides — persist so the shingle kernel runs once
    val texts = sc.persist(shingleSets(df, idCol, textCol, shingleSize))
    verifyPairs(cand, texts, threshold)
  }

  /** Incremental near-dup detection: pairs of a NEW batch against an
    * EXISTING corpus plus batch-internal pairs — corpus-internal pairs
    * are excluded (they were found when the corpus was indexed). This is
    * the daily production shape: each incoming crawl batch joins the
    * banded MinHash buckets of batch ∪ corpus, but only bucket rows
    * containing a batch doc generate candidates, so the join cost scales
    * with |batch|, not |corpus|². Ids must be disjoint across the two
    * inputs; output orients batch ids as `id_a`. The returned frame
    * reads a checkpoint owned by `scope`: take its terminal action
    * before the scope closes (for the session scope, before
    * [[CacheScope.releaseSession]]); after that it cannot be read.
    */
  def minhashPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, batch.sparkSession)
    val cBuckets = minhashBuckets(corpus, idCol, textCol, numHashes, bands,
      shingleSize)
    val cCounts = bucketCounts(cBuckets)
    val cShingles = shingleSets(corpus.select(col(idCol), col(textCol)),
      idCol, textCol, shingleSize)
    incrementalBucketPairs(batch, idCol, textCol, numHashes, bands,
      shingleSize, cBuckets.join(broadcast(cCounts
          .filter(col("cnt") > maxBucketSize).select("band", "bucket")),
        Seq("band", "bucket"), "left_anti"),
      cCounts, cShingles, threshold, maxBucketSize, sc)
  }

  /** `(band, bucket, cnt)`: the number of bucket rows per bucket. */
  private def bucketCounts(buckets: DataFrame): DataFrame =
    buckets.groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))

  /** Shared incremental candidate+verify core: the batch's bucket rows
    * against corpus bucket rows (however the corpus side was produced —
    * a fresh kernel pass or a persisted index scan), then exact-Jaccard
    * verify of each candidate's BATCH shingle set (every emitted `id_a`
    * is a batch id) against batch ∪ corpus (`cShingles`) shingle sets.
    *
    * Per-batch state is BATCH-sized and taken in ONE kernel pass: the
    * batch's [[minhashSketches]] frame is local-checkpointed into `sc`
    * ([[CacheScope.checkpoint]]), and its bucket rows and verify texts
    * are both read from it; so the returned frame must take its
    * terminal action before `sc` closes. The corpus side streams
    * through the candidate join uncached.
    *
    * Skew guard: a bucket is oversized when its count over batch ∪
    * corpus — the batch count plus the corpus count `cCounts`, additive
    * — exceeds `maxBucketSize`. `cBounded` is the corpus bucket rows
    * with every bucket whose CORPUS count alone exceeds the cap already
    * dropped (a subset of the oversized set), so no such bucket reaches
    * the join's exchange. The full set filters the batch rows once, as
    * the join's `l` side: a candidate joins on (band, bucket), so a row
    * of an oversized bucket on the `r` side finds no partner without a
    * filter of its own. Its one reference matters: the exchanges above
    * each reference to a checkpoint are recomputed, never reused, so a
    * second reference would run the batch-count exchange and the
    * broadcast again.
    */
  private[pipeline] def incrementalBucketPairs(batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      shingleSize: Int, cBounded: DataFrame, cCounts: DataFrame,
      cShingles: DataFrame, threshold: Double, maxBucketSize: Int,
      sc: CacheScope): DataFrame = {
    val sketches = sc.checkpoint(minhashSketches(
      batch.select(col(idCol), col(textCol)), idCol, textCol, numHashes,
      bands, shingleSize))
    val pb = bucketRows(sketches)
    val textsA = sketches.select("id", "sh")
    val oversized = bucketCounts(pb).unionAll(cCounts)
      .groupBy("band", "bucket").agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > maxBucketSize).select("band", "bucket")
    val l = pb
      .join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = pb.withColumn("new", lit(true))
      .unionByName(cBounded.withColumn("new", lit(false)))
      .select(col("band"), col("bucket"), col("id").as("id_b"),
        col("new").as("new_b"))
    val cand = l.join(r, Seq("band", "bucket"))
      // batch-internal pairs once (a < b); batch-vs-corpus always
      .filter((col("new_b") && col("id_a") < col("id_b")) ||
        (!col("new_b") && col("id_a") =!= col("id_b")))
      .select("id_a", "id_b").distinct()
    verifyPairsAB(cand, textsA, textsA.unionAll(cShingles), threshold)
  }

  /** Persist a MinHash LSH text index: the corpus's banded bucket rows
    * and shingle sets written as parquet, plus a params sidecar. This is
    * the daily-production layout [[minhashPairsFromIndex]] queries: the
    * corpus (the expensive side — one shingle+signature kernel pass over
    * everything) is indexed ONCE; each incoming batch then pays only its
    * own kernel pass plus bucket joins against the index scan. At 100 TB
    * the alternative — re-deriving corpus buckets per batch, what
    * [[minhashPairsIncremental]] does — re-reads and re-hashes the whole
    * corpus every day.
    */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3): Unit = {
    minhashBuckets(corpus, idCol, textCol, numHashes, bands, shingleSize)
      .write.mode("overwrite").parquet(s"$path/buckets")
    shingleSets(corpus, idCol, textCol, shingleSize)
      .write.mode("overwrite").parquet(s"$path/shingles")
    SidecarIO.writeParams(corpus.sparkSession, s"$path/params",
      "numHashes" -> numHashes, "bands" -> bands, "shingleSize" -> shingleSize)
  }

  /** Incremental near-dup pairs of a NEW batch against a PERSISTED
    * corpus index ([[writeMinhashIndex]]) — identical output contract to
    * [[minhashPairsIncremental]] (batch id first, batch-internal pairs
    * once, corpus-internal excluded; ids disjoint), but the corpus side
    * is an index SCAN, so per-batch cost is the batch kernel pass plus
    * joins — nothing corpus-sized is recomputed. Signature params come
    * from the index's sidecar (they are part of the index identity: a
    * batch hashed with different params would never collide correctly).
    * Like [[minhashPairsIncremental]], the returned frame is readable
    * only until `scope` closes.
    */
  def minhashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame =
    minhashPairsFromLoaded(loadMinhashIndex(spark, path, maxBucketSize),
      batch, idCol, textCol, threshold, scope)

  /** The fixed per-index state [[minhashPairsFromIndex]] re-derives on
    * every call: params sidecar plus the tombstone-reduced corpus
    * bucket/shingle frames, for probes at skew cap `maxBucketSize`. A
    * continuously probing stream loads this ONCE, at its first batch
    * ([[graft.streaming.StreamOps.probeStream]]), instead of paying the
    * params read + index frame setup per micro-batch; the index is
    * fixed for the handle's lifetime — fold the index, reload the
    * handle. `cBuckets` holds the corpus bucket rows outside the
    * buckets whose corpus count alone exceeds the cap, and
    * `cBucketCounts` the per-bucket corpus counts the guard adds batch
    * counts to (see [[incrementalBucketPairs]]).
    */
  final case class LoadedMinhashIndex(numHashes: Int, bands: Int,
    shingleSize: Int, maxBucketSize: Int, cBuckets: DataFrame,
    cShingles: DataFrame, cBucketCounts: DataFrame)

  /** Load a [[LoadedMinhashIndex]]. The corpus bucket counts are
    * persisted into `scope` and built here, by the collect of the
    * buckets over the cap, so no probe's plan builds them; each probe
    * then drops those buckets' corpus rows with a literal predicate
    * (none when no bucket is over the cap).
    */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): LoadedMinhashIndex = {
    val sc = CacheScope.resolve(scope, spark)
    val p = SidecarIO.readParams(spark, s"$path/params")
    val cBuckets = dropTombstoned(spark, path,
      SidecarIO.readWithFallback(spark, s"$path/buckets"), "id")
    val cCounts = sc.persist(bucketCounts(cBuckets))
    val over = cCounts.filter(col("cnt") > maxBucketSize)
      .select("band", "bucket").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (band, rows) =>
        col("band") === band && col("bucket").isin(rows.map(_.getLong(1)): _*)
      }
    LoadedMinhashIndex(
      p.getAs[Long]("numHashes").toInt, p.getAs[Long]("bands").toInt,
      p.getAs[Long]("shingleSize").toInt, maxBucketSize,
      over.reduceOption(_ || _).fold(cBuckets)(o => cBuckets.filter(!o)),
      dropTombstoned(spark, path,
        SidecarIO.readWithFallback(spark, s"$path/shingles"), "id"),
      cCounts)
  }

  /** [[minhashPairsFromIndex]] against a pre-loaded handle, at the
    * handle's skew cap — identical output, no per-call index reads.
    */
  def minhashPairsFromLoaded(ix: LoadedMinhashIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      scope: CacheScope = CacheScope.session): DataFrame =
    incrementalBucketPairs(batch, idCol, textCol, ix.numHashes, ix.bands,
      ix.shingleSize, ix.cBuckets, ix.cBucketCounts, ix.cShingles,
      threshold, ix.maxBucketSize,
      CacheScope.resolve(scope, batch.sparkSession))
}
