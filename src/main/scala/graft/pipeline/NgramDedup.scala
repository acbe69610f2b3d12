package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** N-gram Jaccard near-duplicate detection (exact, not probabilistic):
  * length-bucketed blocking, containment pairs, incremental probes,
  * and the persisted shingle-set index.
  */
private[pipeline] trait NgramDedupOps extends Serializable { this: Dedup.type =>

  /** Roll an ngram index forward — same contract as
    * [[appendToMinhashIndex]] for the inverted-shingle family.
    */
  def appendToNgramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String,
      textCol: String): Unit = {
    val shingleSize = SidecarIO.readParams(spark, s"$path/params")
      .getAs[Long]("shingleSize").toInt
    shingleIndex(docs, idCol, textCol, shingleSize)
      .write.mode("append").parquet(s"$path/shingle_index")
  }

  /** Alias for [[ngramJaccardPairs]] from when the stop-shingle guard
    * was opt-IN; the guard now defaults ON in the bare operator (round-9
    * change), so this adds nothing — kept for source compatibility.
    */
  def ngramJaccardPairsAtScale(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxDocFreq: Int = 1000): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, threshold, shingleSize, maxDocFreq)

  /** The persisted, stop-shingle-guarded inverted index both all-pairs
    * operators self-join: the shingle KERNEL output is what gets
    * cached, so the guard's doc-frequency count and both join sides
    * share ONE kernel pass (guide §1.2 — don't compute things twice).
    * The anti-join itself is a map-side broadcast probe over the cached
    * rows — recomputing it per join side is free next to the kernel.
    */
  private def boundedShingleIndex(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, maxDocFreq: Int,
      sc: CacheScope): DataFrame = {
    val exploded = sc.persist(shingleIndex(df, idCol, textCol,
      shingleSize))
    if (maxDocFreq > 0) {
      // stop-shingle guard via broadcast anti-join (same shape as the
      // minhash/simhash caps): the oversized list is tiny after
      // map-side partial aggregation, so no per-row exchange + window
      // sort — the only full shuffle on `s` stays the candidate join
      val oversized = exploded.groupBy("s").count()
        .filter(col("count") > maxDocFreq).select("s")
      exploded.join(broadcast(oversized), Seq("s"), "left_anti")
    } else exploded
  }

  /** All near-dup pairs by exact n-gram Jaccard via an inverted shingle
    * index: explode (doc, shingle), self-join on the shingle hash, count
    * matches per pair = |A∩B|, then J = inter / (|A|+|B|−inter). Exact
    * (identical to an all-pairs oracle — every J>0 pair shares a shingle)
    * but the join work is Σ_s freq(s)², not n², and it is a single hash
    * shuffle on the shingle key.
    *
    * Scale guard: `maxDocFreq` drops shingles present in more docs than
    * the cap from candidate *generation* (stop-shingle skew guard) —
    * ON BY DEFAULT (1000): a shingle in f docs contributes f² join rows
    * on one key, and boilerplate shingles in a 100 TB corpus make that
    * unbounded, so the undecorated name must not be the unguarded
    * self-join. Recall caveat: a true pair sharing ONLY dropped shingles
    * is missed — at near-dup thresholds such pairs share many shingles,
    * so only boilerplate-only pairs are affected. Pass `maxDocFreq = 0`
    * to opt INTO exact mode (what the oracle queries and every truth
    * computation do explicitly).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxDocFreq: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, df.sparkSession)
    // both join sides AND the stop-shingle count read this subtree;
    // persist so the shingle KERNEL runs once (with the guard on, the
    // count pass previously re-ran the whole kernel — the frame cached
    // was the post-anti-join one, downstream of the count)
    val cached = boundedShingleIndex(df, idCol, textCol, shingleSize,
      maxDocFreq, sc)
    val l = cached.select(col("s"), col("id").as("id_a"),
      col("nsh").as("n_a"))
    val r = cached.select(col("s"), col("id").as("id_b"),
      col("nsh").as("n_b"))
    l.join(r, "s").filter(col("id_a") < col("id_b"))
      // exact length block: J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|),
      // so size-mismatched pairs cannot reach the threshold — prune them
      // BEFORE the per-pair aggregation (codegen'd filter on the join
      // output, no correctness impact)
      .filter(col("n_a") >= lit(threshold) * col("n_b") &&
        col("n_b") >= lit(threshold) * col("n_a"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      // a legitimate group has inter ≤ min(n_a, n_b), so the union
      // denominator is ≥ max(n_a, n_b) ≥ 1; a zero denominator is only
      // producible by CONTRACT-VIOLATING input (duplicate ids inflating
      // inter past the set bound) — such groups take a NULL jaccard and
      // drop at the threshold filter instead of killing the whole job
      // with an ANSI DIVIDE_BY_ZERO
      .withColumn("_den", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard", when(col("_den") > 0,
        col("inter").cast("double") / col("_den")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric shingle CONTAINMENT — the partial-copy detector
    * Jaccard structurally misses: a paragraph quoted inside a much
    * longer document has tiny Jaccard (union is the long doc) but
    * containment `C(A,B) = |A∩B| / |A|` near 1. Emits one row per
    * unordered pair whose LARGER direction reaches `threshold`:
    * `(id_a, id_b, containment_a, containment_b)` with `id_a < id_b`,
    * where `containment_a` is how much of A lies inside B and vice
    * versa.
    *
    * Same inverted-index join as [[ngramJaccardPairs]] but WITHOUT the
    * length block — size-mismatched pairs are exactly the ones this
    * operator exists for — so the stop-shingle guard (`maxDocFreq`,
    * opt-out via 0 like the Jaccard family) is the only candidate
    * bound; keep it on at scale.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleSize: Int = 3,
      maxDocFreq: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, df.sparkSession)
    val cached = boundedShingleIndex(df, idCol, textCol, shingleSize,
      maxDocFreq, sc)
    val l = cached.select(col("s"), col("id").as("id_a"),
      col("nsh").as("n_a"))
    val r = cached.select(col("s"), col("id").as("id_b"),
      col("nsh").as("n_b"))
    l.join(r, "s").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment_a",
        col("inter").cast("double") / col("n_a"))
      .withColumn("containment_b",
        col("inter").cast("double") / col("n_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
      .select("id_a", "id_b", "containment_a", "containment_b")
  }

  /** Incremental EXACT n-gram Jaccard — the inverted-index member of the
    * incremental family, with the others' output contract (batch id
    * first, batch-internal once, corpus-internal excluded) but EXACT
    * semantics: identical to all-pairs Jaccard restricted to pairs with
    * a batch member (every J>0 pair shares a shingle, so the index join
    * finds it — no candidate bound, no cap unless `maxDocFreq` guards
    * stop-shingles). Join work is Σ_s freq_batch(s)·freq_all(s): scales
    * with the BATCH's shingle frequencies, not the corpus pair count.
    */
  def ngramJaccardPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      shingleSize: Int = 3, maxDocFreq: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, batch.sparkSession)
    val all0 = shingleIndex(batch, idCol, textCol, shingleSize)
      .withColumn("new", lit(true))
      .union(shingleIndex(corpus, idCol, textCol, shingleSize)
        .withColumn("new", lit(false)))
    ngramIncrementalCore(all0, threshold, maxDocFreq, sc)
  }

  /** Persist an inverted n-gram shingle index (id, nsh, s) plus params —
    * the exact-Jaccard member of the persisted-index family.
    */
  def writeNgramIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3): Unit = {
    shingleIndex(corpus, idCol, textCol, shingleSize)
      .write.mode("overwrite").parquet(s"$path/shingle_index")
    SidecarIO.writeParams(corpus.sparkSession, s"$path/params",
      "shingleSize" -> shingleSize)
  }

  /** [[ngramJaccardPairsIncremental]] against a persisted
    * [[writeNgramIndex]] — corpus side is an index scan, per-batch cost
    * is the batch's shingle kernel plus the index join.
    */
  def ngramJaccardPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, maxDocFreq: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, spark)
    val shingleSize = SidecarIO.readParams(spark, s"$path/params")
      .getAs[Long]("shingleSize").toInt
    val all0 = shingleIndex(batch, idCol, textCol, shingleSize)
      .withColumn("new", lit(true))
      .union(dropTombstoned(spark, path,
          spark.read.parquet(s"$path/shingle_index"), "id")
        .withColumn("new", lit(false)))
    ngramIncrementalCore(all0, threshold, maxDocFreq, sc)
  }

  /** Shared incremental exact-Jaccard core over (id, nsh, s, new)
    * inverted-index rows (kernel pass or index scan on the corpus side).
    * Same per-pair arithmetic as [[ngramJaccardPairs]].
    */
  private[pipeline] def ngramIncrementalCore(all0: DataFrame, threshold: Double,
      maxDocFreq: Int, sc: CacheScope): DataFrame = {
    // the kernel/index-scan union is what gets cached (see
    // boundedShingleIndex): with the guard on, the doc-frequency count
    // and both join sides share one pass over it
    val base = sc.persist(all0)
    val cached =
      if (maxDocFreq > 0) {
        val oversized = base.groupBy("s").count()
          .filter(col("count") > maxDocFreq).select("s")
        base.join(broadcast(oversized), Seq("s"), "left_anti")
      } else base
    val l = cached.filter(col("new")).select(col("s"),
      col("id").as("id_a"), col("nsh").as("n_a"))
    val r = cached.select(col("s"), col("id").as("id_b"),
      col("nsh").as("n_b"), col("new").as("new_b"))
    l.join(r, "s")
      // batch-internal pairs once (a < b); batch-vs-corpus always
      .filter((col("new_b") && col("id_a") < col("id_b")) ||
        (!col("new_b") && col("id_a") =!= col("id_b")))
      // exact length block (see ngramJaccardPairs)
      .filter(col("n_a") >= lit(threshold) * col("n_b") &&
        col("n_b") >= lit(threshold) * col("n_a"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      // a legitimate group has inter ≤ min(n_a, n_b), so the union
      // denominator is ≥ max(n_a, n_b) ≥ 1; a zero denominator is only
      // producible by CONTRACT-VIOLATING input (duplicate ids inflating
      // inter past the set bound) — such groups take a NULL jaccard and
      // drop at the threshold filter instead of killing the whole job
      // with an ANSI DIVIDE_BY_ZERO
      .withColumn("_den", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard", when(col("_den") > 0,
        col("inter").cast("double") / col("_den")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // SimHash
}
