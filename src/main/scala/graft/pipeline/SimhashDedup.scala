package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SimHash near-duplicate detection: 64-bit hyperplane fingerprints
  * over shingle hashes, block-permutation candidate banding with the
  * pigeonhole completeness envelope, operating-point calculators,
  * incremental probes, and the persisted fingerprint index.
  */
private[pipeline] trait SimhashDedupOps extends Serializable { this: Dedup.type =>

  /** 64-bit SimHash over whitespace tokens: per-bit vote of token hashes.
    * Computed with a single `aggregate` over a 64-int vote vector
    * (one pass, codegen-friendly).
    */
  def simhash(text: Column): Column = {
    val hashes = transform(split(lower(trim(text)), "\\s+"),
      t => xxhash64(t))
    val votes = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(k =>
          when(shiftright(h, k).bitwiseAND(1) === 1, 1).otherwise(-1)): _*),
        (x, y) => x + y))
    (0 until 64).map(k =>
      when(element_at(votes, k + 1) > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash per document via explode + hash aggregate: 64 per-bit vote
    * sums stay inside whole-stage codegen (the single-Column `simhash`
    * variant builds a 64-wide lambda per token, which falls out of codegen
    * and runs ~50× slower at scale).
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(k =>
      sum(shiftright(col("h"), k).bitwiseAND(1)).as(s"b$k"))
    val agg = toks.groupBy("id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sh = (0 until 64).map(k =>
      when(col(s"b$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), sh.as("sh"))
  }

  /** One-pass JVM SimHash kernel — bit-identical to [[simhashDf]] (same
    * xxhash64 token hashes, same strict-majority vote over ALL token
    * occurrences) but with no token explode, no 64-column aggregate and no
    * shuffle: one map over the rows. The declarative forms above stay as
    * the reference semantics; this is the hot-path variant (see the
    * shingle-kernel note at the top of this section).
    */
  private[pipeline] def simhash64(text: String): Long = {
    val toks = text.trim.toLowerCase.split("\\s+")
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = hashBytes(toks(i).getBytes("UTF-8"), 42L)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var sh = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) sh |= (1L << k); k += 1 }
    sh
  }

  /** (id, sh) via the JVM kernel. */
  def simhashDfJ(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, simhash64(if (text == null) "" else text))
      }.toDF("id", "sh")
  }

  /** Candidate pairs sharing at least one of `blocks` equal-width SimHash
    * blocks. Emits (id_a, id_b, hamming), deduplicated.
    *
    * Recall guarantee (pigeonhole, before the bucket cap):
    *  - `probeBits = 0`: two docs within Hamming `blocks - 1` differ in
    *    zero bits of some block, so they share an exact block value.
    *  - `probeBits = 1` (multi-probe): two docs within Hamming
    *    `2*blocks - 1` differ in AT MOST ONE bit of some block
    *    (floor((2b-1)/b) = 1); the probe side additionally emits every
    *    single-bit flip of each block value, so the flipped probe of one
    *    doc equals the exact value of the other — they share a join key.
    *    Cost: the probe side grows by `64/blocks` rows per doc and each
    *    bucket join is `f_exact × f_probe` instead of `f²` — the classic
    *    multi-probe LSH trade (bigger index, derived recall bound),
    *    linear not quadratic in the probe count because only ONE join
    *    side is expanded.
    * The `maxBucketSize` cap can break either bound for pairs whose only
    * shared bucket is oversized — a true near-dup pair shares MANY of the
    * `blocks` blocks, so dropping its largest bucket almost never loses
    * the pair; pass `Int.MaxValue` when the bound must be unconditional.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      blocks: Int = 4, maxHamming: Int = 64,
      maxBucketSize: Int = 1000, probeBits: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame =
    // the expensive kernel (one simhash per doc) is the shared base of
    // both join sides — the core persists it, the block explodes are
    // cheap. The kernel input is `spread` (simhashDfJ): when the exact
    // side broadcasts, the bucket join's collision-production loop (the
    // dominant cost — ~4x the candidate count in raw join rows) streams
    // at this very partitioning.
    fingerprintCandidatePairs(simhashDfJ(df, idCol, textCol), blocks,
      maxHamming, maxBucketSize, probeBits, scope)

  /** SimHash near-dup candidates: bucket by the 4 16-bit quarters (two
    * docs within Hamming distance 3 share at least one quarter), verify
    * by exact Hamming distance. The bucket cap is DISABLED here so the
    * pigeonhole guarantee stays unconditional — use
    * [[simhashCandidatePairs]] directly when skew-bounded candidate
    * generation matters more than total recall. Null texts hash as the
    * empty string (all-null docs therefore pair with each other at
    * Hamming 0 — dedup semantics for empty content).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashCandidatePairs(df, idCol, textCol, blocks = 4,
      maxHamming = maxHamming, maxBucketSize = Int.MaxValue)

  /** Derived SimHash operating point: the `blocks` choice covering
    * Hamming `radius` (with 1-bit probing, radius ≤ 2*blocks-1) whose
    * per-block key space still SPREADS the corpus, or None when no such
    * point exists — in which case SimHash is outside its envelope for
    * this (radius, corpus) and MinHash is the right tool.
    *
    * Envelope rule (measured in DEDUP_DRYRUN.md at 50k docs): block
    * bucketing holds its recall bound only while the skew cap stays
    * disengaged, i.e. `corpusSize * biasFactor <= maxBucketSize *
    * 2^(64/blocks)` — simhash bits are heavily biased on real text
    * (`biasFactor` ~10 covers the measured concentration), so capacity
    * is cap × key-space, not corpus ≤ key-space. Fewer blocks widen the
    * keys (better spread) but shrink the guaranteed radius, so the
    * radius constraint picks the SMALLEST feasible `blocks` and the
    * spread constraint then accepts or rejects it: a corpus needing both
    * a large radius and a large corpus has no valid point (the WWW'07
    * small-radius shape of SimHash).
    */

  def simhashOperatingPoint(radius: Int, corpusSize: Long,
      maxBucketSize: Int = 1000, biasFactor: Int = 10): Option[Int] = {
    require(radius >= 0 && radius <= 31, "radius must be in [0, 31]")
    // smallest divisor of 64 with 2*blocks-1 >= radius (widest keys)
    Seq(2, 4, 8, 16).find(b => 2 * b - 1 >= radius).filter(b =>
      simhashEnvelopeHolds(b, corpusSize, maxBucketSize, biasFactor))
  }

  /** The spread side of the envelope rule on its own: do `blocks`-wide
    * block keys still SPREAD a corpus of `corpusSize` docs, i.e.
    * `corpusSize * biasFactor <= maxBucketSize * 2^(64/blocks)`? (See
    * [[simhashOperatingPoint]] for the rationale and the DEDUP_DRYRUN
    * measurements behind `biasFactor`.)
    */
  def simhashEnvelopeHolds(blocks: Int, corpusSize: Long,
      maxBucketSize: Int, biasFactor: Int = 10): Boolean =
    BigInt(corpusSize) * biasFactor <=
      BigInt(maxBucketSize) * (BigInt(1) << (64 / blocks))

  /** The WIDEST-radius operating point a corpus supports — what a
    * persisted index derives at BUILD time, when the eventual query
    * radius is unknown: the LARGEST `blocks` (= largest guaranteed
    * radius `2*blocks-1`) whose block keys still spread `corpusSize`
    * docs. Candidates are {8, 4, 2}: blocks=16 would mean 4-bit keys
    * (16 distinct values — no selectivity at any size worth indexing),
    * and blocks=2 (32-bit keys) spreads anything real, so it is also
    * the fallback when even 16-bit keys saturate.
    */
  def simhashBlocksForCorpus(corpusSize: Long, maxBucketSize: Int = 1000,
      biasFactor: Int = 10): Int =
    Seq(8, 4).find(b =>
      simhashEnvelopeHolds(b, corpusSize, maxBucketSize, biasFactor))
      .getOrElse(2)

  /** SimHash as *candidate generation*, exact n-gram Jaccard as the
    * verifier: block-sharing candidates are re-checked against the true
    * shingle sets, so the output pair set is oracle-comparable (identical
    * to all-pairs Jaccard whenever every true pair shares a block and
    * passes the Hamming pre-filter). With `probeBits = 1` the candidate
    * bound is DERIVED, not empirical: every pair within Hamming
    * `2*blocks - 1` is guaranteed a shared join key (see
    * [[simhashCandidatePairs]]), so set `prefilterHamming = 2*blocks - 1`
    * and the pre-filter trims only candidates OUTSIDE the guarantee.
    * True Jaccard ≥0.8 pairs sit far below it (measured max Hamming 12
    * vs random ~32 at sf0.1; guarded by SimhashRecallSpec at the gate
    * SFs, which fails loudly if regenerated testdata moves the truth
    * past the bound).
    *
    * Scale note: pick `blocks` with [[simhashOperatingPoint]] — the
    * guaranteed radius (2*blocks-1) trades directly against per-block
    * key spread (2^(64/blocks) values vs corpus size). DEDUP_DRYRUN.md
    * measures both sides at 50k docs: blocks=8 saturates its 256-value
    * keys and collapses; blocks=4 holds its full guarantee with the cap
    * disengaged. When no blocks choice satisfies both constraints,
    * SimHash is outside its envelope — use [[minhashPairs]].
    */
  def simhashJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      blocks: Int = 4, prefilterHamming: Int = -1,
      maxBucketSize: Int = 1000, probeBits: Int = 1,
      verifyRankCap: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, df.sparkSession)
    // default prefilter = the DERIVED candidate bound: a caller passing
    // nothing gets a filter exactly as wide as what the generation
    // guarantees, never wider (prefilter > bound keeps pairs the join was
    // never promised to emit — wrong-by-default; prefilter < bound wastes
    // part of the guarantee). Explicit values still override for tuning.
    val pf = if (prefilterHamming < 0) guaranteedRadius(blocks, probeBits)
      else prefilterHamming
    val candAll = simhashCandidatePairs(df, idCol, textCol, blocks,
      maxHamming = pf, maxBucketSize = maxBucketSize,
      probeBits = probeBits, scope = sc)
    // Verify-density second tier (off by default): keep a candidate pair
    // only if it ranks within `verifyRankCap` by ascending exact Hamming
    // from AT LEAST ONE of its endpoints. On low-entropy corpora the
    // Hamming prefilter alone admits a dense candidate mass (sf0.1
    // synthetic: ~16% of ALL pairs within the bound) while true near-dups
    // rank at the very top of their endpoint's list (measured best-
    // endpoint rank p99=4, max=22 vs cap 32 — SimhashRankProfile); the
    // cap trims the dense junk BEFORE the expensive shingle-set join
    // instead of after. This is an empirical dial OUTSIDE the pigeonhole
    // guarantee (a true pair outranked at both endpoints by >cap closer
    // junk would be lost) — CI guards it against the planted truth at
    // the gate SFs (SimhashRecallSpec claim 4); leave 0 when the
    // candidate bound must be the only filter. Ranking windows partition
    // by each pair ORIENTATION (id_a side, id_b side): each window sees
    // a subset of the endpoint's true neighborhood, so ranks are never
    // larger than full-neighborhood ranks — recall-safe, and two narrow
    // window shuffles cost far less than the verify join they prune.
    val cand = rankCapPairs(candAll, verifyRankCap)
    // joined on both pair sides — persist so the shingle kernel runs once
    val texts = sc.persist(shingleSets(df, idCol, textCol, shingleSize))
    verifyPairs(cand, texts, threshold)
  }

  /** Incremental SimHash near-dup detection — the
    * [[minhashPairsIncremental]] shape for the SimHash index: a NEW batch
    * against an EXISTING corpus plus batch-internal pairs; corpus-internal
    * pairs are excluded (found when the corpus was indexed) and every
    * bucket join keeps the batch on one side, so cost scales with
    * |batch|, not |corpus|². Multi-probe expansion happens ONLY on the
    * batch side, with XOR (both-direction) bit flips covering both
    * orientations in a single join — see [[simhashIncrementalCore]].
    * Ids must be disjoint; batch ids come out as `id_a` for
    * batch-vs-corpus pairs, `a < b` for batch-internal.
    */
  def simhashPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      shingleSize: Int = 3, blocks: Int = 4, prefilterHamming: Int = -1,
      maxBucketSize: Int = 1000, probeBits: Int = 1,
      verifyRankCap: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, batch.sparkSession)
    val sh = simhashDfJ(batch, idCol, textCol).withColumn("new", lit(true))
      .union(simhashDfJ(corpus, idCol, textCol)
        .withColumn("new", lit(false)))
    val texts = shingleSets(
      batch.select(col(idCol), col(textCol))
        .union(corpus.select(col(idCol), col(textCol))),
      idCol, textCol, shingleSize)
    simhashIncrementalCore(sh, texts, threshold, blocks, prefilterHamming,
      maxBucketSize, probeBits, verifyRankCap, sc)
  }

  /** Persist a SimHash text index: the corpus's 64-bit fingerprints and
    * shingle sets as parquet plus a params sidecar. The fingerprint
    * table is TINY (16 bytes/doc) — block explodes and multi-probe
    * expansion happen at query time from it, so `blocks`/`probeBits`
    * remain query-time OVERRIDES; but the index derives and STORES its
    * operating point (`blocks` from corpus size via
    * [[simhashBlocksForCorpus]] when not pinned), because an index
    * outlives the corpus-size knowledge of whoever queries it: a reader
    * defaulting to the stored point can never carry a saturated block
    * count past its envelope (the silent-collapse mode DEDUP_DRYRUN.md
    * measures at blocks=8 / 50k docs). `shingleSize` is index identity
    * (baked into the persisted shingle sets the verify stage joins);
    * `nDocs` is stored so reads can VALIDATE explicit overrides.
    */
  def writeSimhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, blocks: Int = -1,
      probeBits: Int = 1, maxBucketSize: Int = 1000): Unit = {
    // validate the operating point BEFORE ANY write: the envelope needs
    // only the corpus row count (one cheap count pass, no kernel), and a
    // refused pinned point must leave the target path UNTOUCHED — an
    // in-place rebuild of a live index would otherwise destroy the old
    // fingerprints before discovering the new point is saturated
    val nDocs = corpus.count()
    val b = if (blocks > 0) blocks
      else simhashBlocksForCorpus(nDocs, maxBucketSize)
    require(simhashEnvelopeHolds(b, nDocs, maxBucketSize),
      s"simhash index point blocks=$b saturates ${64 / b}-bit block " +
        s"keys at $nDocs docs (maxBucketSize=$maxBucketSize) — the " +
        "skew cap would silently drop in-guarantee candidates; lower " +
        "blocks or raise maxBucketSize")
    simhashDfJ(corpus, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    shingleSets(corpus, idCol, textCol, shingleSize)
      .write.mode("overwrite").parquet(s"$path/shingles")
    SidecarIO.writeParams(corpus.sparkSession, s"$path/params",
      "shingleSize" -> shingleSize, "blocks" -> b, "probeBits" -> probeBits,
      "maxBucketSize" -> maxBucketSize, "nDocs" -> nDocs)
  }

  /** Incremental SimHash near-dup pairs of a NEW batch against a
    * PERSISTED corpus index ([[writeSimhashIndex]]) — the
    * [[minhashPairsFromIndex]] shape for the SimHash family: identical
    * output contract to [[simhashPairsIncremental]], corpus side read
    * from the index scan (no corpus re-hash per batch).
    *
    * `blocks`/`probeBits`/`maxBucketSize` default to the point the index
    * DERIVED AND STORED at build time (pass -1 = "use the index's").
    * Explicit overrides are VALIDATED against the indexed corpus size:
    * a block count whose key space the stored corpus saturates is
    * refused loudly rather than silently dropping in-guarantee
    * candidates — the failure mode an index FREEZES without this check,
    * since its corpus only grows after build.
    */
  def simhashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, blocks: Int = -1, prefilterHamming: Int = -1,
      maxBucketSize: Int = -1, probeBits: Int = -1,
      verifyRankCap: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, spark)
    val params = SidecarIO.readParams(spark, s"$path/params")
    // pre-params-sidecar index layouts lack the legacy fields
    def stored(field: String, legacy: Long): Long =
      SidecarIO.param[Long](params, field).getOrElse(legacy)
    val shingleSize = params.getAs[Long]("shingleSize").toInt
    val b = if (blocks > 0) blocks else stored("blocks", 4L).toInt
    val pb = if (probeBits >= 0) probeBits else stored("probeBits", 1L).toInt
    val cap = if (maxBucketSize > 0) maxBucketSize
      else stored("maxBucketSize", 1000L).toInt
    val nDocs = stored("nDocs", -1L)
    require(nDocs < 0 || simhashEnvelopeHolds(b, nDocs, cap),
      s"simhash index at $path holds $nDocs docs: blocks=$b gives " +
        s"${64 / b}-bit block keys the corpus saturates " +
        s"(maxBucketSize=$cap) and the skew cap would silently drop " +
        "in-guarantee candidates — use the index's stored point " +
        s"(blocks=${stored("blocks", 4L)}) or rebuild with a larger " +
        "maxBucketSize")
    val sh = simhashDfJ(batch, idCol, textCol).withColumn("new", lit(true))
      .union(dropTombstoned(spark, path,
          spark.read.parquet(s"$path/fingerprints"), "id")
        .withColumn("new", lit(false)))
    val texts = shingleSets(batch.select(col(idCol), col(textCol)),
        idCol, textCol, shingleSize)
      .union(dropTombstoned(spark, path,
        spark.read.parquet(s"$path/shingles"), "id"))
    simhashIncrementalCore(sh, texts, threshold, b, prefilterHamming,
      cap, pb, verifyRankCap, sc)
  }

  /** Shared incremental SimHash core over an (id, sh, new) fingerprint
    * frame — however the corpus rows were produced (kernel pass or index
    * scan).
    *
    * ONE join covers both multi-probe orientations: the batch probe side
    * emits each block value XOR'd with every single bit (BOTH flip
    * directions, unlike the symmetric all-pairs operator's 0→1-only
    * trick). For a (batch, corpus) pair differing in ≤1 bit of some
    * block, either the values are equal (exact–exact collision) or the
    * batch value XOR that bit EQUALS the corpus value — whichever side
    * holds the 0. Cost: probe expansion is `batch × blocks × (bits+1)`
    * rows — proportional to the BATCH; the corpus side stays exact-only
    * (the earlier two-join form exploded the CORPUS with flips for the
    * second orientation, a corpus-sized blowup exactly where the
    * incremental contract promises batch-sized cost).
    */
  private[pipeline] def simhashIncrementalCore(sh0: DataFrame, texts: DataFrame,
      threshold: Double, blocks: Int, prefilterHamming: Int,
      maxBucketSize: Int, probeBits: Int, verifyRankCap: Int,
      sc: CacheScope): DataFrame = {
    // default prefilter = the derived bound (see simhashJaccardPairs)
    val pf = if (prefilterHamming < 0) guaranteedRadius(blocks, probeBits)
      else prefilterHamming
    val cand = fingerprintIncrementalCandidates(sh0, blocks, pf,
      maxBucketSize, probeBits, sc)
    verifyPairs(rankCapPairs(cand, verifyRankCap), sc.persist(texts),
      threshold)
  }
}
