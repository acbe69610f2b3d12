package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-sharded Bloom sidecar — the scale tier above [[Bloom]]'s
  * flat filter: flat addressing caps at 2^30 bits (~10^8 keys at 1%
  * fpp), but a 100 TB corpus carries 10^10–10^11 document ids. Here
  * every key routes to `pmod(xxhash64(-1, key), numShards)` and each
  * shard is an INDEPENDENT flat filter of `bitsPerShard` bits, so
  * logical capacity is `numShards × bitsPerShard` — unbounded — while
  * each shard's dense word array stays small enough to hold, ship, and
  * merge. The shard hash uses seed -1, the position hashes seeds
  * 0..k-1: independent outputs of the one xxhash64 kernel.
  *
  * Merge/fold semantics are [[Bloom]]'s exactly: per-(shard, word)
  * bitwise OR — idempotent, order- and batch-insensitive — and the
  * no-false-negative contract holds per shard, so every pruned join is
  * bit-identical to the exact join.
  *
  * Two probe tiers by filter size:
  *  - [[ShardedBloomFilter.mightContain]]: all shards resident in one
  *    driver-side handle, shipped as a codegen REFERENCE (broadcast
  *    task binary — never a plan literal). Map-only, zero shuffle.
  *    Right up to the memory a handle can hold (~10^9 keys at 1%).
  *  - [[pruneViaSidecar]]: NOTHING resident — fact rows and sparse
  *    sidecar words cogroup BY SHARD (one fact exchange), each task
  *    densifies ONE shard (bounded `bitsPerShard/64` longs) and probes
  *    its group's rows through it. The only tier that reaches 10^11
  *    keys, at the honest price of one shuffle — still strictly
  *    cheaper than the unpruned join shuffle it replaces, because only
  *    the fact's (key-pruned) columns move and the downstream exact
  *    join sees just the might-match slice.
  */
object ShardedBloom {

  /** Canonical schema of the `words` sidecar (shard = the partitionBy
    * directory key). Reads pass it explicitly: a filter legitimately
    * seeded from an EMPTY key set writes zero data files (partitionBy
    * of an empty frame commits only `_SUCCESS`), and schema inference
    * over that dir throws where an explicit schema reads the empty
    * all-zeros filter it represents.
    */
  private val wordsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("word_idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bits",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.IntegerType)))

  /** The stored words as `(shard, word_idx, bits)`, the sketch's order. */
  private def readWords(spark: SparkSession, path: String): DataFrame =
    SidecarIO.readWithFallback(spark, s"$path/words", Some(wordsSchema))
      .select(col("shard"), col("word_idx"), col("bits"))

  private def shardOf(key: Column, numShards: Int): Column =
    pmod(xxhash64(lit(-1), key), lit(numShards.toLong)).cast("int")

  /** Sizing for `expectedKeys` at `fpp`: total bits by the classic
    * formula, sharded so no shard exceeds `maxShardBits` (default 2^27
    * = 16 MiB of words per shard — comfortably task-densifiable).
    */
  def sizeFor(expectedKeys: Long, fpp: Double,
      maxShardBits: Long = 1L << 27): (Int, Int, Int) = {
    require(expectedKeys > 0 && fpp > 0 && fpp < 1)
    require(maxShardBits >= 64 && maxShardBits % 64 == 0,
      "maxShardBits must be a positive multiple of 64")
    val m0 = math.ceil(-expectedKeys * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong.max(64L)
    val numShards = ((m0 + maxShardBits - 1) / maxShardBits).toInt
    val bitsPerShard =
      ((m0 / numShards + 63) / 64 * 64).min(maxShardBits).toInt
    val k = math.max(1, math.round(
      (numShards.toLong * bitsPerShard).toDouble / expectedKeys *
        math.log(2)).toInt)
    (numShards, bitsPerShard, k)
  }

  /** Distributed sparse sketch: one row per non-zero word,
    * `(shard, word_idx, bits)` — one explode into one `bit_or`
    * aggregate, the [[Bloom.sketch]] shape plus the shard key.
    */
  def sketch(df: DataFrame, keyCol: String, numShards: Int,
      bitsPerShard: Int, numHashes: Int): DataFrame = {
    require(numShards >= 1, s"numShards $numShards must be >= 1")
    require(bitsPerShard >= 64 && bitsPerShard % 64 == 0,
      s"bitsPerShard $bitsPerShard must be a positive multiple of 64")
    require(numHashes >= 1, s"numHashes $numHashes must be >= 1")
    val key = col(keyCol)
    df.filter(key.isNotNull)
      .select(shardOf(key, numShards).as("shard"),
        explode(transform(sequence(lit(0), lit(numHashes - 1)),
          i => Bloom.pos(i, key, bitsPerShard))).as("pos"))
      .select(col("shard"),
        (col("pos") / 64).cast("int").as("word_idx"),
        element_at(Bloom.powColumn, (col("pos") % 64).cast("int") + 1)
          .as("bit"))
      .groupBy("shard", "word_idx")
      .agg(bit_or(col("bit")).as("bits"))
  }

  /** All-shards-resident handle: `words(shard)` is that shard's dense
    * array. Obtain via [[build]] or [[readFilter]].
    */
  final case class ShardedBloomFilter(words: Array[Array[Long]],
      bitsPerShard: Int, numHashes: Int) {
    def numShards: Int = words.length
    def logicalBits: Long = numShards.toLong * bitsPerShard

    /** Map-only membership predicate; the word arrays ride a codegen
      * reference, never a plan literal.
      */
    def mightContain(key: Column): Column = {
      val sh = shardOf(key, numShards)
      key.isNotNull && forall(
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => Bloom.pos(i, key, bitsPerShard)),
        p => (graft.functions.BloomExpressions
          .wordAtC(sh, (p / 64).cast("int"), words)
          .bitwiseAND(element_at(Bloom.powColumn,
            (p % 64).cast("int") + 1))) =!= lit(0L))
    }
  }

  private def densify(sparse: DataFrame, numShards: Int,
      bitsPerShard: Int, numHashes: Int): ShardedBloomFilter = {
    val words = Array.fill(numShards)(new Array[Long](bitsPerShard / 64))
    // bounded collect: at most numShards * bitsPerShard/64 rows
    sparse.collect().foreach { r =>
      words(r.getAs[Int]("shard"))(r.getAs[Int]("word_idx")) =
        r.getAs[Long]("bits")
    }
    ShardedBloomFilter(words, bitsPerShard, numHashes)
  }

  /** Build the resident handle in one pass. */
  def build(df: DataFrame, keyCol: String, numShards: Int,
      bitsPerShard: Int, numHashes: Int): ShardedBloomFilter =
    densify(sketch(df, keyCol, numShards, bitsPerShard, numHashes),
      numShards, bitsPerShard, numHashes)

  /** Persist the sidecar: sparse words partitioned BY SHARD (one
    * parquet directory per shard — a shard's merge or probe reads only
    * its directory) + params.
    */
  def writeFilter(df: DataFrame, keyCol: String, numShards: Int,
      bitsPerShard: Int, numHashes: Int, path: String): Unit = {
    SidecarIO.atomicOverwriteDf(
      sketch(df, keyCol, numShards, bitsPerShard, numHashes),
      s"$path/words", Seq("shard"))
    SidecarIO.writeParams(df.sparkSession, s"$path/params",
      "num_shards" -> numShards, "bits_per_shard" -> bitsPerShard,
      "num_hashes" -> numHashes, "key_col" -> keyCol)
  }

  /** The stored (numShards, bitsPerShard, numHashes). */
  private def shapeOf(spark: SparkSession, path: String): (Int, Int, Int) = {
    val p = SidecarIO.readParams(spark, s"$path/params")
    (p.getAs[Long]("num_shards").toInt,
      p.getAs[Long]("bits_per_shard").toInt,
      p.getAs[Long]("num_hashes").toInt)
  }

  /** The stored filter as a resident handle (the broadcastable tier). */
  def readFilter(spark: SparkSession, path: String): ShardedBloomFilter = {
    val (numShards, bitsPerShard, numHashes) = shapeOf(spark, path)
    densify(readWords(spark, path), numShards, bitsPerShard, numHashes)
  }

  /** Fold a new batch into the stored sidecar: per-(shard, word)
    * bitwise OR at batch cost — FULLY DISTRIBUTED. The stored words
    * and the batch sketch union into one `groupBy(shard, word_idx) →
    * bit_or` (idempotent, order-insensitive), and the merged frame is
    * swapped in ([[SidecarFold]]) with the same `partitionBy(shard)`
    * layout [[writeFilter]] wrote — nothing ever lands on the driver,
    * so the daily-ingest fold works at the tier's design point
    * (10^10–10^11 keys ⇒ 10^9+ word rows, tens of GB): one shard
    * exchange per fold, each shard's directory rewritten from its own
    * partition. Pass the returned state back as `carried` to skip the
    * next fold's params read and partitioned-words read.
    */
  def updateFilter(spark: SparkSession, path: String, batch: DataFrame,
      keyCol: String,
      carried: Option[SidecarFold[(Int, Int, Int)]] = None)
      : SidecarFold[(Int, Int, Int)] =
    SidecarFold.fold(s"$path/words", None, carried, Seq("shard")) {
      SidecarFold(shapeOf(spark, path), readWords(spark, path), None)
    } { st =>
      val (numShards, bitsPerShard, numHashes) = st.params
      Some(st.copy(stored = st.stored
        .unionAll(sketch(batch, keyCol, numShards, bitsPerShard,
          numHashes))
        .groupBy("shard", "word_idx")
        .agg(bit_or(col("bits")).as("bits"))))
    }

  /** The nothing-resident probe: prune `fact` to the rows whose key
    * MIGHT be in the sidecar set, by cogrouping fact rows with the
    * sparse words ON SHARD — each task densifies exactly one shard
    * (`bitsPerShard/64` longs) and bit-tests its group's rows. No
    * false negatives; output columns = `fact`'s. The fact pays ONE
    * exchange by shard hash; the sidecar side moves only non-zero
    * words. Positions/shards are computed as Columns BEFORE the
    * cogroup with the same xxhash64 expressions the sketch used, so
    * build and probe hashing can never diverge.
    */
  def pruneViaSidecar(spark: SparkSession, path: String,
      fact: DataFrame, factKey: String): DataFrame =
    probeViaSidecar(spark, path, fact, factKey, keepMatches = true)

  /** The cogroup probe core: emit the rows whose membership test
    * equals `keepMatches` (true = might-match slice, false =
    * DEFINITELY-new slice — zero false negatives make the reject side
    * exact). NULL keys drop here (might-match can't hold them and the
    * anti-join wrapper re-unions them).
    */
  private def probeViaSidecar(spark: SparkSession, path: String,
      fact: DataFrame, factKey: String,
      keepMatches: Boolean): DataFrame = {
    val (numShards, bitsPerShard, numHashes) = shapeOf(spark, path)
    val words = readWords(spark, path)

    val keyed = fact
      .withColumn("_gb_shard", shardOf(col(factKey), numShards))
      .withColumn("_gb_pos",
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => Bloom.pos(i, col(factKey), bitsPerShard)))
      // NULL keys were never inserted: drop before the exchange
      .filter(col(factKey).isNotNull)
    val shardIdx = keyed.schema.fieldIndex("_gb_shard")
    val posIdx = keyed.schema.fieldIndex("_gb_pos")
    val nCols = fact.schema.length

    val kvFact = keyed.groupByKey(_.getInt(shardIdx))(Encoders.scalaInt)
    val kvWords =
      words.groupByKey(_.getAs[Int]("shard"))(Encoders.scalaInt)
    val out = kvFact.cogroup(kvWords) { (_, rows, ws) =>
      val dense = new Array[Long](bitsPerShard / 64)
      ws.foreach(w =>
        dense(w.getAs[Int]("word_idx")) = w.getAs[Long]("bits"))
      rows.filter { r =>
        val ps = r.getSeq[Long](posIdx)
        ps.forall(p =>
          (dense((p / 64).toInt) & (1L << (p % 64).toInt)) != 0L) ==
          keepMatches
      }.map(r => Row.fromSeq(r.toSeq.take(nCols)))
    }(Encoders.row(fact.schema))
    out.toDF()
  }

  /** Sidecar-pruned exact ANTI-join at the nothing-resident tier — the
    * [[Bloom.prunedAntiJoin]] incremental-ingest skip pattern for
    * 10^10+-key processed sets: the DEFINITELY-new slice (filter
    * rejects — exact, no false negatives) and the NULL-keyed rows pass
    * straight through; only the might-match slice pays the exact
    * `left_anti` that removes true members and revives false
    * positives. Bit-identical to `fact.join(dim, …, "left_anti")`.
    * Cost shape: two shard exchanges of the fact instead of the full
    * anti-join shuffle — the win is that the downstream anti-join sees
    * only the might-match slice (≈ the true-member mass at 1% fpp).
    */
  def prunedAntiJoinViaSidecar(spark: SparkSession, path: String,
      fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame = {
    val defNew =
      probeViaSidecar(spark, path, fact, factKey, keepMatches = false)
    val might =
      probeViaSidecar(spark, path, fact, factKey, keepMatches = true)
    defNew
      .unionAll(fact.filter(col(factKey).isNull))
      .unionAll(might.join(dim, col(factKey) === col(dimKey),
        "left_anti"))
  }

  /** Sidecar-pruned exact equi-join at the nothing-resident tier —
    * bit-identical to `fact.join(dim, fact(k) === dim(k))` (false
    * positives die in the join, false negatives don't exist).
    */
  def prunedJoinViaSidecar(spark: SparkSession, path: String,
      fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame =
    pruneViaSidecar(spark, path, fact, factKey)
      .join(dim, col(factKey) === col(dimKey))

  /** [[Bloom.prunedJoinWith]] for the resident sharded handle. */
  def prunedJoinWith(bf: ShardedBloomFilter, fact: DataFrame,
      dim: DataFrame, factKey: String, dimKey: String): DataFrame =
    fact.filter(bf.mightContain(col(factKey)))
      .join(dim, col(factKey) === col(dimKey))
}
