package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Persisted Bloom-filter membership sidecar — the set-membership
  * member of the sketch family ([[Sketches]] counts distincts,
  * [[BottomK]] samples, this one answers "might this key be in the
  * set"): build once over a key column, then prune streams/facts
  * map-only before an expensive join or probe.
  *
  * Why a SIDECAR when Spark injects runtime bloom filters on its own
  * (`spark.sql.optimizer.runtime.bloomFilter.*`): the runtime filter
  * is rebuilt per query from the dim-side scan — it cannot be built
  * OFFLINE once and reused across days, queries, and engines, and it
  * never survives the session. This one persists (word-indexed bit
  * array + params), merges by bitwise OR (union semantics — exactly
  * mergeable, order- and batch-insensitive), and folds new batches in
  * at batch cost.
  *
  * Correctness contract: NO false negatives ever (a stored key always
  * passes); false positives at the standard `(1 - e^{-kn/m})^k` rate.
  * A pruned join therefore ends with the EXACT equi-join — the bloom
  * only reduces what reaches the shuffle, never what survives it —
  * so results are bit-identical to the unpruned join (the
  * minhash-family discipline: Spark-specific hashing in the candidate
  * path, exact semantics at the output).
  *
  * Scale design: the build is one map-only position explode feeding a
  * single `bit_or` hash aggregate on `m/64` word keys (partial
  * map-side combine; the exchange carries at most `m/64` rows per
  * partition). The probe side is a PURE Column predicate over a
  * broadcast word array — no join, no shuffle, no per-row JVM call
  * (`xxhash64` + array lookups, all codegen'd) — so pruning a 100 TB
  * fact scan costs nothing but the scan itself.
  */
object Bloom {

  /** Bit masks 1L << 0..63 as an array literal — Spark's `shiftleft`
    * takes only a literal shift amount, so a column-indexed lookup
    * stands in for a variable shift.
    */
  private[pipeline] def powColumn: Column =
    typedlit((0 until 64).map(1L << _))

  /** Position of hash `i` for `key`: `pmod(xxhash64(i, key), m)`.
    * Seeding with a leading literal column derives k independent
    * hashes from the one xxhash64 kernel.
    */
  private[pipeline] def pos(i: Column, key: Column, numBits: Int): Column =
    pmod(xxhash64(i, key), lit(numBits.toLong))

  /** Classic sizing: bits and hash count for `expectedKeys` at target
    * false-positive rate `fpp` (m rounded up to a whole word).
    */
  def sizeFor(expectedKeys: Long, fpp: Double): (Int, Int) = {
    require(expectedKeys > 0 && fpp > 0 && fpp < 1)
    val m0 = math.ceil(-expectedKeys * math.log(fpp) /
      (math.log(2) * math.log(2)))
    val m = (((m0.toLong + 63) / 64) * 64).min(1L << 30).toInt
    val k = math.max(1,
      math.round(m.toDouble / expectedKeys * math.log(2)).toInt)
    (m, k)
  }

  /** The distributed sparse sketch: one row per NON-ZERO 64-bit word,
    * `(word_idx, bits)` — the persistable/mergeable form. One explode
    * (k positions per key) into one `bit_or` aggregate.
    */
  def sketch(df: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int): DataFrame = {
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits $numBits must be a positive multiple of 64")
    require(numHashes >= 1, s"numHashes $numHashes must be >= 1")
    val p = explode(transform(sequence(lit(0), lit(numHashes - 1)),
      i => pos(i, col(keyCol), numBits))).as("pos")
    df.filter(col(keyCol).isNotNull)
      .select(p)
      .select((col("pos") / 64).cast("int").as("word_idx"),
        element_at(powColumn, (col("pos") % 64).cast("int") + 1)
          .as("bit"))
      .groupBy("word_idx")
      .agg(bit_or(col("bit")).as("bits"))
  }

  /** Driver-side filter handle: the dense word array (bounded at
    * `numBits/64` longs BY CONSTRUCTION — 1 MiB per 2^23 bits) plus
    * the operating point. Obtain via [[build]] or [[readFilter]].
    */
  final case class BloomFilter(words: Array[Long], numBits: Int,
      numHashes: Int) {

    /** Membership predicate as a pure codegen'd Column — map-only, no
      * shuffle, NULL keys yield false (a NULL was never inserted).
      * Small word arrays embed as a plan literal (self-contained
      * expression, nothing to ship); past [[BloomFilter.literalWordCap]]
      * words the array rides a codegen REFERENCE instead
      * ([[graft.functions.BloomExpressions]]) — a big filter as a
      * literal serializes ~8 bytes/word into EVERY plan that probes it.
      * Both paths compute positions with the same `xxhash64` Columns
      * the build uses, so they are interchangeable bit-for-bit.
      */
    def mightContain(key: Column): Column = {
      val probes = transform(sequence(lit(0), lit(numHashes - 1)),
        i => pos(i, key, numBits))
      if (words.length <= BloomFilter.literalWordCap) {
        val w = typedlit(words.toSeq)
        key.isNotNull && forall(probes,
          p => (element_at(w, (p / 64).cast("int") + 1)
            .bitwiseAND(element_at(powColumn, (p % 64).cast("int") + 1)))
            =!= lit(0L))
      } else {
        val shards = Array(words)
        key.isNotNull && forall(probes,
          p => (graft.functions.BloomExpressions
            .wordAtC(lit(0), (p / 64).cast("int"), shards)
            .bitwiseAND(element_at(powColumn, (p % 64).cast("int") + 1)))
            =!= lit(0L))
      }
    }
  }

  object BloomFilter {
    /** Largest word array embedded as a plan literal (32 KiB — the
      * size where plan-serialization cost starts to matter).
      */
    val literalWordCap: Int = 4096
  }

  private def densify(sparse: DataFrame, numBits: Int,
      numHashes: Int): BloomFilter = {
    val words = new Array[Long](numBits / 64)
    // bounded collect: at most numBits/64 rows by construction
    sparse.collect().foreach { r =>
      words(r.getAs[Int]("word_idx")) = r.getAs[Long]("bits")
    }
    BloomFilter(words, numBits, numHashes)
  }

  /** Build the driver-side filter handle in one pass. */
  def build(df: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int): BloomFilter =
    densify(sketch(df, keyCol, numBits, numHashes), numBits, numHashes)

  /** Persist the sidecar: sparse words + operating point. */
  def writeFilter(df: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int, path: String): Unit = {
    SidecarIO.atomicOverwriteDf(sketch(df, keyCol, numBits, numHashes),
      s"$path/words")
    SidecarIO.writeParams(df.sparkSession, s"$path/params",
      "num_bits" -> numBits, "num_hashes" -> numHashes, "key_col" -> keyCol)
  }

  /** The stored filter, ready to probe ([[SidecarIO.readWithFallback]]:
    * a crashed swap serves the previous generation).
    */
  def readFilter(spark: SparkSession, path: String): BloomFilter = {
    val p = SidecarIO.readParams(spark, s"$path/params")
    val numBits = p.getAs[Long]("num_bits").toInt
    densify(SidecarIO.readWithFallback(spark, s"$path/words"), numBits,
      p.getAs[Long]("num_hashes").toInt)
  }

  /** Fold a new batch of keys into the stored sidecar at batch cost:
    * sketch the batch at the STORED operating point, merge by
    * `bit_or` (union semantics — re-folding the same batch is exactly
    * a no-op) and swap the merged words in ([[SidecarFold]]; a crash
    * mid-rewrite cannot lose the accumulated copy). Pass the returned
    * state back as `carried` to skip the next fold's reads.
    */
  def updateFilter(spark: SparkSession, path: String, batch: DataFrame,
      keyCol: String, carried: Option[SidecarFold[Row]] = None)
      : SidecarFold[Row] =
    SidecarFold.fold(s"$path/words", None, carried) {
      SidecarFold(SidecarIO.readParams(spark, s"$path/params"),
        SidecarIO.readWithFallback(spark, s"$path/words"), None)
    } { st =>
      Some(st.copy(stored = st.stored
        .unionAll(sketch(batch, keyCol,
          st.params.getAs[Long]("num_bits").toInt,
          st.params.getAs[Long]("num_hashes").toInt))
        .groupBy("word_idx")
        .agg(bit_or(col("bits")).as("bits"))))
    }

  /** Bloom-pruned exact equi-join: prune the FACT side map-only with
    * a filter built from the dim keys, then run the exact join — the
    * result is bit-identical to `fact.join(dim, ...)` (no false
    * negatives; false positives die in the join), but only rows that
    * might match reach the shuffle. For a dimension-shaped right side
    * at 100 TB fact scale this is the difference between shuffling
    * the fact table and shuffling its matching slice.
    */
  def prunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, fpp: Double = 0.01): DataFrame =
    prunedJoinWith(sizedFor(dim, dimKey, fpp), fact, dim, factKey, dimKey)

  /** [[prunedJoin]] against an ALREADY-BUILT filter handle (read from a
    * persisted sidecar, or maintained by a stream) — the serving form:
    * the dim scan that `prunedJoin` pays to size+build is skipped.
    */
  def prunedJoinWith(bf: BloomFilter, fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String): DataFrame =
    fact.filter(bf.mightContain(col(factKey)))
      .join(dim, col(factKey) === col(dimKey))

  /** Bloom-pruned exact ANTI-join — the incremental-ingest skip
    * pattern ("drop documents whose id is already in the processed
    * corpus"): rows whose key the filter REJECTS are definitely new
    * (no false negatives) and pass through MAP-ONLY, never reaching a
    * shuffle; only the might-match slice pays the exact `left_anti`
    * join that removes true members and revives false positives.
    * Result is bit-identical to `fact.join(dim, …, "left_anti")`
    * (NULL fact keys never match, so both keep them).
    *
    * Cost shape: two map-only passes over the fact scan (definite-new
    * + candidate slices) instead of one pass + a FULL anti-join
    * shuffle — at 100 TB the scan is the cheap part and the shuffle
    * the expensive one, and with a ~1% fpp the candidate slice that
    * shuffles is roughly the true-member mass. Use when `dim` is past
    * broadcast size; under it, Spark's broadcast anti-join already
    * wins.
    */
  def prunedAntiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, fpp: Double = 0.01): DataFrame =
    prunedAntiJoinWith(sizedFor(dim, dimKey, fpp), fact, dim, factKey,
      dimKey)

  /** [[prunedAntiJoin]] against an already-built filter handle. */
  def prunedAntiJoinWith(bf: BloomFilter, fact: DataFrame,
      dim: DataFrame, factKey: String, dimKey: String): DataFrame = {
    val might = bf.mightContain(col(factKey))
    fact.filter(!might).unionAll(
      fact.filter(might)
        .join(dim, col(factKey) === col(dimKey), "left_anti"))
  }

  /** Size from the dim's distinct-key count and build in one pass. */
  private def sizedFor(dim: DataFrame, dimKey: String,
      fpp: Double): BloomFilter = {
    val nKeys = math.max(1L,
      dim.agg(countDistinct(col(dimKey))).head().getLong(0))
    val (m, k) = sizeFor(nKeys, fpp)
    build(dim, dimKey, m, k)
  }
}
