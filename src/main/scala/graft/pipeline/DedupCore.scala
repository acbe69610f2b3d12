package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The shared candidate/verify core every dedup family composes —
  * factored once (the [[Dedup]] facade mixes every family in):
  * content/ID tombstones and index maintenance, word-shingle
  * primitives and their JVM kernels (Catalyst higher-order lambdas are
  * not whole-stage-codegen'd — these typed kernels are the deliberate
  * escape hatch for the shingle hot path), the exact-Jaccard verify
  * step, the rank-cap guard, and the banded 64-bit fingerprint
  * candidate machinery shared by SimHash and the audio/video
  * fingerprints ([[Multimodal]]).
  */
private[pipeline] trait DedupCoreOps extends Serializable { this: Dedup.type =>

  /** Deletion CLOSURE of a removal request: every corpus row sharing
    * content with any seed id, as `(id, h)` rows. Compliance deletions
    * are content-level — removing one copy of a duplicated text while
    * its clones survive deletes nothing — so this is the blessed
    * constructor for [[writeTombstones]]: a content-closed set is
    * exactly the condition under which tombstoned index reads equal a
    * rebuild on the reduced corpus for ALL index families (the exact
    * index is keyed by content hash; a partial deletion of one hash's
    * copies cannot be represented there).
    *
    * Scale: the seed set is request-sized → both joins broadcast; the
    * corpus is scanned once, map-side.
    */
  def contentTombstones(corpus: DataFrame, idCol: String, textCol: String,
      seedIds: DataFrame): DataFrame = {
    val ch = corpus.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h"))
    val seeds = seedIds.select(
      col(seedIds.columns.head).cast("long").as("id"))
    val seedH = ch.join(broadcast(seeds), "id").select("h").distinct()
    ch.join(broadcast(seedH), "h").select("id", "h")
  }

  /** Append `(id, h)` deletion rows to an index's tombstone sidecar.
    * Every `*FromIndex` reader of this path then excludes the deleted
    * rows (ids for the per-doc families, content hashes for the exact
    * index) — the daily deletion batch costs one small parquet append
    * instead of an index rebuild. Requests accumulate across calls
    * (append mode); a rebuild clears them (`overwrite` of the index
    * root). The exact index's bloom sidecar is NOT rewritten: it may
    * stay positive for deleted content, which only costs a pruned-join
    * probe that then finds no live row — false positives were already
    * in its contract, and it can never go falsely negative.
    *
    * Pass a content-closed set (see [[contentTombstones]]) for exact
    * rebuild parity; `deleted` must carry the doc text (deletion
    * requests do — the hash is computed here so callers never manage
    * raw digests).
    */
  def writeTombstones(deleted: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    deleted.select(col(idCol).cast("long").as("id"),
        md5(col(textCol)).as("h"))
      .write.mode("append").parquet(s"$path/tombstones")

  private[pipeline] def tombstonedKeys(spark: org.apache.spark.sql.SparkSession,
      path: String, key: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(p.toString).select(key).distinct())
    else None
  }

  /** Id-only tombstones for indexes whose rows have no text identity
    * (media fingerprints, embeddings): the content-hash slot is filled
    * from the rendered id — only the exact index reads it, and an exact
    * index is never keyed by bare ids.
    */
  def writeIdTombstones(ids: DataFrame, idCol: String,
      path: String): Unit =
    writeTombstones(ids.withColumn("_t", col(idCol).cast("string")),
      idCol, "_t", path)

  /** Corpus-side index frame minus tombstoned rows: anti-join on `key`,
    * explicitly broadcast (deletion lists are request-sized, never
    * corpus-sized). No tombstone sidecar = identity — clean indexes pay
    * nothing.
    */
  private[pipeline] def dropTombstoned(
      spark: org.apache.spark.sql.SparkSession,
      path: String, frame: DataFrame, key: String): DataFrame =
    tombstonedKeys(spark, path, key) match {
      case Some(t) => frame.join(broadcast(t), Seq(key), "left_anti")
      case None => frame
    }

  // -------------------------------------------------------------------
  // shingles + MinHash/LSH

  /** Distinct word `n`-gram shingles of a text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val words = split(lower(trim(text)), "\\s+")
    val count = size(words)
    when(count < n, array(concat_ws(" ", words)))
      .otherwise(array_distinct(transform(sequence(lit(0), count - n),
        i => concat_ws(" ", (0 until n).map(k =>
          element_at(words, (i + k + 1).cast("int"))): _*))))
  }

  /** Shingles pre-hashed to 64-bit ints: set operations (intersect/union,
    * minhash) run on longs instead of strings — an order of magnitude
    * cheaper at the candidate-join stage, identical results w.h.p.
    * (collision odds ≈ n²/2⁶⁵).
    */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    // hash the word n-tuple directly (multi-arg xxhash64) — no shingle
    // string allocation; same distinct set as hashing "w1 w2 w3"
    val words = split(lower(trim(text)), "\\s+")
    val count = size(words)
    when(count < n, array(xxhash64(concat_ws(" ", words))))
      .otherwise(array_distinct(transform(sequence(lit(0), count - n),
        i => xxhash64((0 until n).map(k =>
          element_at(words, (i + k + 1).cast("int"))): _*))))
  }

  // -------------------------------------------------------------------
  // JVM-side shingle kernels. Catalyst higher-order functions (transform/
  // aggregate lambdas) are NOT whole-stage-codegen'd — they interpret per
  // element, ~10× slower on the shingle hot path. These typed flatMaps are
  // the deliberate mapPartitions-tier escape hatch for that hot path; the
  // relational shape (explode → join → groupBy) stays declarative.

  /** Spread few-split inputs to full parallelism before a per-row JVM
    * kernel: a local parquet file or single-partition stream otherwise
    * runs the kernel — and everything downstream until the first
    * exchange, including bucket-join collision production — on 1-4
    * cores. No-op when the input already has enough splits (the 100 TB
    * case: never shuffle a corpus for parallelism it already has).
    *
    * The few-split hazard this guards against is a LEAF-SCAN property,
    * and the check must stay driver-side-cheap: `df.rdd` under AQE
    * MATERIALIZES every upstream shuffle stage just to expose a
    * partition count — a whole extra execution of the subtree per
    * spread() call (measured as duplicated kernel stages in the curate
    * profile). So plans that already contain an exchange-introducing
    * node (join/aggregate/window/sort/repartition) or a cached relation
    * are left alone — their parallelism was set by the planner/AQE, and
    * probing it would run the plan — and only exchange-free plans
    * (scan → filter/project/kernel chains, where building the RDD plans
    * a single stage and runs NO job) get the partition count + optional
    * repartition, exactly the case the helper exists for.
    */
  private[pipeline] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val dp = df.sparkSession.sparkContext.defaultParallelism
    // shuffle-introducing nodes only: a cached relation (IMR) hides its
    // build plan behind the cache boundary, so `.rdd` over an IMR-rooted
    // shuffle-free plan just wraps the cached RDD — cheap, and the
    // partition count is real (a cache AQE-coalesced to few partitions
    // still needs the spread for the kernel downstream)
    val hasExchange = df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: lp.Join | _: lp.Aggregate | _: lp.Window |
        _: lp.Sort | _: lp.RepartitionOperation | _: lp.Distinct) => p
    }.isDefined
    if (hasExchange) df
    else if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  private[pipeline] def hashBytes(b: Array[Byte], seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)

  /** Distinct hashed word n-gram shingles of one text (JVM kernel),
    * SORTED ascending: every consumer is order-insensitive (inverted
    * index emission, minhash signature folds, intersection/union SIZES
    * in the Jaccard verify), and sorted arrays let the verify stage run
    * an allocation-free linear merge ([[graft.functions.ShingleOps]])
    * instead of a per-pair hash set — the verify join is the dominant
    * cost of every near-dup family once candidates are dense.
    */
  private[pipeline] def shingleHashArray(text: String, n: Int): Array[Long] = {
    val words = text.trim.toLowerCase.split("\\s+")
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    if (words.length < n) {
      set.add(hashBytes(words.mkString(" ").getBytes("UTF-8"), 42L))
    } else {
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i <= words.length - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(words(i + k)); k += 1 }
        set.add(hashBytes(sb.toString.getBytes("UTF-8"), 42L))
        i += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    out
  }

  /** Shared verify stage for every candidate generator: enrich candidate
    * pairs with both shingle sets, apply the exact length block (J ≤
    * min/max of the set sizes — size-mismatched pairs cannot reach the
    * threshold, so they are pruned before paying for the intersection),
    * then exact Jaccard + threshold. `texts` must be the persisted
    * [[shingleSets]] frame (joined on both sides).
    */
  private[pipeline] def verifyPairs(cand: DataFrame, texts: DataFrame,
      threshold: Double): DataFrame =
    verifyPairsAB(cand, texts, texts, threshold)

  /** [[verifyPairs]] with per-side shingle frames: incremental
    * candidate generators orient the BATCH id as `id_a`, so the a-side
    * join needs only the batch's shingle sets — joining the full
    * batch ∪ corpus frame there scans a corpus-sized side for rows that
    * can never match (the probe streams' per-batch contract is
    * batch-sized cost).
    */
  private[pipeline] def verifyPairsAB(cand: DataFrame, textsA: DataFrame,
      textsB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(textsA.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(textsB.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .filter(size(col("sh_a")) >= lit(threshold) * size(col("sh_b")) &&
        size(col("sh_b")) >= lit(threshold) * size(col("sh_a")))
      // codegen'd linear merge over the sorted shingle arrays — NOT
      // array_intersect/array_union, which build two hash tables per
      // pair (the verify stage's former dominant cost)
      .withColumn("jaccard", graft.functions.ShingleOps.jaccardSortedC(
        col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Band `q` of a WIDE fingerprint held as `array<long>` (bit `b`
    * lives in word `b/64` at position `b%64`); `bits` must divide 64 so
    * a band never straddles words.
    */
  private def widePartCol(bits: Int)(q: Int): Column = {
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    shiftright(element_at(col("sh"), (q * bits) / 64 + 1),
      (q * bits) % 64).bitwiseAND(mask)
  }

  /** Hamming distance between two `array<long>` fingerprints of `words`
    * words — a codegen'd `bit_count(xor)` sum, no higher-order lambdas.
    */
  private def wideHamming(words: Int)(a: Column, b: Column): Column =
    (0 until words).map(i => bit_count(element_at(a, i + 1)
      .bitwiseXOR(element_at(b, i + 1)))).reduce(_ + _)

  /** The band check of every fingerprint width: `blocks` bands of
    * `64 * words / blocks` bits that never straddle a word, and 0/1
    * probe bits. Returns the band width in bits.
    */
  private[pipeline] def requireWide(words: Int, blocks: Int,
      probeBits: Int): Int = {
    require(words >= 1, "words must be >= 1")
    val totalBits = 64 * words
    require(blocks >= 2 && totalBits % blocks == 0,
      s"blocks must divide $totalBits")
    val bits = totalBits / blocks
    require(bits <= 64 && 64 % bits == 0,
      "bands must not straddle 64-bit words")
    require(probeBits == 0 || probeBits == 1, "probeBits must be 0 or 1")
    bits
  }

  /** The all-pairs block-bucket join skeleton shared by the 64-bit and
    * WIDE fingerprint families: band extraction and the Hamming
    * expression are the only width-dependent pieces, injected by the
    * public entry points.
    */
  private def fpCandidateCore(fpDf: DataFrame, blocks: Int, bits: Int,
      maxHamming: Int, maxBucketSize: Int, probeBits: Int,
      scope: CacheScope, partCol: Int => Column,
      hammingOf: (Column, Column) => Column): DataFrame = {
    val sc = CacheScope.resolve(scope, fpDf.sparkSession)
    val withSh = sc.persist(fpDf.select(col("id"), col("sh")))
    // j = -1 → the exact block value; j >= 0 → that value with bit j
    // SET (multi-probe expansion, probe side only). Only 0→1 flips are
    // emitted: for a pair differing in one bit of a block, exactly one
    // side has a 0 there, and ITS set-flip equals the other side's exact
    // value — one collision suffices since pair orientation is
    // canonicalized below. Halves the probe rows vs flipping both ways.
    def explodedParts(flips: Boolean): DataFrame = {
      val js: Seq[Int] = if (flips) -1 until bits else Seq(-1)
      val structs = for { q <- 0 until blocks; j <- js } yield {
        val p = partCol(q)
        if (j < 0) struct(lit(q).as("q"), p.as("part"), lit(true).as("ok"))
        else {
          val f = p.bitwiseOR(lit(1L << j))
          struct(lit(q).as("q"), f.as("part"), (f =!= p).as("ok"))
        }
      }
      withSh.select(col("id"), col("sh"),
          explode(array(structs: _*)).as("bb"))
        .filter(col("bb.ok"))
        .select(col("id"), col("sh"), col("bb.q"), col("bb.part"))
    }
    // skew guard: simhash bits are biased on real text, so a block value
    // can capture a large corpus fraction — f docs in one (q,part) bucket
    // emit f² join rows. Oversized buckets are measured on the EXACT
    // (corpus-distribution) side and anti-joined off both sides.
    // Broadcast anti-join on the (tiny) oversized list — no shuffle of
    // the bucket rows themselves. A cap of Int.MaxValue (the perceptual
    // families' recall-unconditional default) can never flag a bucket,
    // so the count aggregate + both anti-joins are skipped outright —
    // one fewer full pass over the exploded frame per evaluation,
    // plan-identical output (anti-join against an empty list is the
    // identity). When the guard is REAL, the exploded exact frame is
    // persisted: the guard count, the left join side and (at
    // probeBits = 0) the right side all read it, and only the
    // fingerprint frame underneath was cached before — the explode
    // re-ran once per consumer.
    val exact =
      if (maxBucketSize == Int.MaxValue) explodedParts(flips = false)
      else sc.persist(explodedParts(flips = false))
    val bounded: DataFrame => DataFrame =
      if (maxBucketSize == Int.MaxValue) identity
      else {
        val oversized = exact.groupBy("q", "part").count()
          .filter(col("count") > maxBucketSize).select("q", "part")
        df => df.join(broadcast(oversized), Seq("q", "part"), "left_anti")
      }
    val l = bounded(exact)
      .select(col("q"), col("part"), col("id").as("id_a"),
        col("sh").as("sh_a"))
    val r = bounded(if (probeBits == 0) exact else explodedParts(flips = true))
      .select(col("q"), col("part"), col("id").as("id_b"),
        col("sh").as("sh_b"))
    // `=!=` + least/greatest (not `<`): under probing a pair collides in
    // BOTH orientations on different keys — keeping only one orientation
    // would lose the pair when the cap drops just its `<`-ordered bucket
    l.join(r, Seq("q", "part")).filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        hammingOf(col("sh_a"), col("sh_b")).as("hamming"))
      // codegen'd bit_count filter BEFORE the distinct: a low-bit block
      // join can emit millions of junk pairs; dropping them here keeps the
      // distinct (a shuffle) proportional to the surviving pairs only
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The block-bucket candidate join over an ARBITRARY 64-bit
    * fingerprint frame `(id, sh)` — SimHash text fingerprints and
    * image perceptual hashes share this core (same pigeonhole recall
    * bounds, same skew cap, same multi-probe trade; see
    * [[simhashCandidatePairs]] for the derivations).
    */
  def fingerprintCandidatePairs(fpDf: DataFrame,
      blocks: Int = 4, maxHamming: Int = 64,
      maxBucketSize: Int = 1000, probeBits: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val bits = requireWide(1, blocks, probeBits)
    val mask = (1L << bits) - 1
    fpCandidateCore(fpDf, blocks, bits, maxHamming, maxBucketSize,
      probeBits, scope,
      q => shiftright(col("sh"), q * bits).bitwiseAND(mask),
      (a, b) => bit_count(a.bitwiseXOR(b)))
  }

  /** [[fingerprintCandidatePairs]] over a WIDE fingerprint frame
    * `(id, sh array<long> of `words` words)` — the scale tier for
    * corpora where 64-bit banding saturates: at 256 bits / 16 bands the
    * per-band bucket space is 2^16 (vs 2^8), cutting the random-corpus
    * candidate mass by ~256× while the pigeonhole guarantee WIDENS
    * (radius `blocks-1` = 15 exact, no multi-probe needed for the
    * default Hamming-8 point). Same skew cap, same orientation
    * canonicalization, same verify expression (a per-word
    * `bit_count(xor)` sum — codegen'd, no lambdas).
    */
  def fingerprintCandidatePairsWide(fpDf: DataFrame, words: Int,
      blocks: Int = 16, maxHamming: Int = 8,
      maxBucketSize: Int = Int.MaxValue, probeBits: Int = 0,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val bits = requireWide(words, blocks, probeBits)
    fpCandidateCore(fpDf, blocks, bits, maxHamming, maxBucketSize,
      probeBits, scope, widePartCol(bits), wideHamming(words))
  }

  /** Hamming radius the block join GUARANTEES to cover: `blocks - 1`
    * exact (pigeonhole over `blocks` blocks), `2*blocks - 1` with 1-bit
    * multi-probe (see [[simhashCandidatePairs]]). A prefilter beyond this
    * keeps pairs the candidate generation never promised to produce.
    */
  def guaranteedRadius(blocks: Int, probeBits: Int): Int = {
    require(probeBits == 0 || probeBits == 1, "probeBits must be 0 or 1")
    (probeBits + 1) * blocks - 1
  }

  /** The verify-density second tier shared by the all-pairs and
    * incremental SimHash operators (see [[simhashJaccardPairs]] for the
    * rationale and recall evidence): keep a candidate only if it ranks
    * within `cap` by ascending Hamming from at least one endpoint.
    * `cap <= 0` disables (exact candidate-bound semantics).
    */
  private[pipeline] def rankCapPairs(cand: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) cand.select("id_a", "id_b")
    else {
      // single frame with `rn_a <= cap || rn_b <= cap` — NOT two
      // rank-limited window branches unioned: that form lets each
      // branch plan as a WindowGroupLimit, but it duplicates the whole
      // candidate-generation subtree (exchange reuse does not reliably
      // dedupe it under AQE) and measured 2-4× slower at sf0.1
      val wA = Window.partitionBy("id_a")
        .orderBy(col("hamming").asc, col("id_b").asc)
      val wB = Window.partitionBy("id_b")
        .orderBy(col("hamming").asc, col("id_a").asc)
      cand.withColumn("rn_a", row_number().over(wA))
        .withColumn("rn_b", row_number().over(wB))
        .filter(col("rn_a") <= cap || col("rn_b") <= cap)
        .select("id_a", "id_b")
    }

  /** Incremental block-bucket candidates over an `(id, sh, new)`
    * fingerprint frame — the batch-sized-cost core shared by the
    * incremental SimHash operators and the image-fingerprint family
    * (see [[simhashPairsIncremental]] for the XOR multi-probe
    * derivation). Emits `(id_a, id_b, hamming <= maxHamming)`
    * deduplicated, batch id first for batch-vs-corpus pairs, `a < b`
    * for batch-internal.
    */
  def fingerprintIncrementalCandidates(sh0: DataFrame, blocks: Int,
      maxHamming: Int, maxBucketSize: Int, probeBits: Int,
      sc: CacheScope): DataFrame = {
    val bits = requireWide(1, blocks, probeBits)
    val mask = (1L << bits) - 1
    fpIncrementalCore(sh0, blocks, bits, maxHamming, maxBucketSize,
      probeBits, sc,
      q => shiftright(col("sh"), q * bits).bitwiseAND(mask),
      (a, b) => bit_count(a.bitwiseXOR(b)))
  }

  /** [[fingerprintIncrementalCandidates]] over WIDE `(id, sh
    * array<long>, new)` fingerprint frames — the batch-sized-cost
    * incremental core for the 256-bit perceptual families.
    */
  def fingerprintIncrementalCandidatesWide(sh0: DataFrame, words: Int,
      blocks: Int, maxHamming: Int, maxBucketSize: Int, probeBits: Int,
      sc: CacheScope): DataFrame = {
    val bits = requireWide(words, blocks, probeBits)
    fpIncrementalCore(sh0, blocks, bits, maxHamming, maxBucketSize,
      probeBits, sc, widePartCol(bits), wideHamming(words))
  }

  private def fpIncrementalCore(sh0: DataFrame, blocks: Int, bits: Int,
      maxHamming: Int, maxBucketSize: Int, probeBits: Int,
      sc: CacheScope, partCol: Int => Column,
      hammingOf: (Column, Column) => Column): DataFrame = {
    val sh = sc.persist(sh0)
    // j = -1 → exact block value; j >= 0 → value with bit j FLIPPED
    // (XOR — both directions, see scaladoc)
    def parts(src: DataFrame, flips: Boolean): DataFrame = {
      val js: Seq[Int] =
        if (flips && probeBits == 1) -1 until bits else Seq(-1)
      val structs = for { q <- 0 until blocks; j <- js } yield {
        val p = partCol(q)
        if (j < 0) struct(lit(q).as("q"), p.as("part"))
        else struct(lit(q).as("q"),
          p.bitwiseXOR(lit(1L << j)).as("part"))
      }
      src.select(col("id"), col("sh"), col("new"),
          explode(array(structs: _*)).as("bb"))
        .select(col("id"), col("sh"), col("new"), col("bb.q"),
          col("bb.part"))
    }
    // Int.MaxValue cap = guard provably empty: skip the count pass and
    // both anti-joins (see fpCandidateCore) — plan-identical output.
    // Real cap: persist the exploded exact frame — the guard count and
    // the left join side both read it (see fpCandidateCore).
    val exactAll =
      if (maxBucketSize == Int.MaxValue) parts(sh, flips = false)
      else sc.persist(parts(sh, flips = false))
    val bounded: DataFrame => DataFrame =
      if (maxBucketSize == Int.MaxValue) identity
      else {
        val oversized = exactAll.groupBy("q", "part").count()
          .filter(col("count") > maxBucketSize).select("q", "part")
        df => df.join(broadcast(oversized), Seq("q", "part"), "left_anti")
      }
    val l = bounded(exactAll)
      .select(col("q"), col("part"), col("id").as("id_x"),
        col("sh").as("sh_x"), col("new").as("new_x"))
    val r = bounded(parts(sh.filter(col("new")), flips = true))
      .select(col("q"), col("part"), col("id").as("id_y"),
        col("sh").as("sh_y"), col("new").as("new_y"))
    l.join(r, Seq("q", "part"))
      .filter(col("id_x") =!= col("id_y"))
      // y is always a batch doc; batch id first for batch-vs-corpus,
      // a<b when both are batch
      .select(
        when(col("new_x"), least(col("id_x"), col("id_y")))
          .otherwise(col("id_y")).as("id_a"),
        when(col("new_x"), greatest(col("id_x"), col("id_y")))
          .otherwise(col("id_x")).as("id_b"),
        hammingOf(col("sh_x"), col("sh_y")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  // -------------------------------------------------------------------
  // embedding near-dup
}
