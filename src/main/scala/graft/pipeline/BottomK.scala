package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Bottom-k hash sample — the mergeable-sketch member for QUANTILES and
  * uniform row samples, complementing the HLL distinct-count sidecar
  * ([[Sketches]]): keep the k rows whose `md5(key)` order keys are
  * smallest. Because membership depends only on the key bytes, the
  * sketch is
  *  - deterministic (same corpus → same k rows on any partitioning,
  *    cluster size, or engine — the [[Sampling.hashOrderKey]] rule),
  *  - uniform (md5 order is independent of ingestion order — the
  *    `orderBy(id).limit(k)` defect does not exist here), and
  *  - EXACTLY mergeable: bottom-k of a union is the bottom-k of the
  *    two bottom-k's, BIT-FOR-BIT — unlike HLL, whose estimator is
  *    path-dependent through sparse→dense promotion, re-batching a
  *    corpus can never move a bottom-k estimate at all (BottomKSpec
  *    pins equality, not an envelope).
  *
  * Scale design: the sketch is `dropDuplicates(h,v).orderBy(h).limit(k)`
  * — a partial-agg dedup (map side collapses repeats, the exchange
  * carries distinct pairs only) feeding Spark's per-partition top-k
  * heap + k-row driver merge (TakeOrderedAndProject): no count pass,
  * no full sort. Quantile extraction reduces the k-row sketch through one
  * bounded `collect_list` aggregate (state ≤ k values BY CONSTRUCTION)
  * — no unpartitioned window, no driver loop. The persisted sidecar is
  * k rows of (hash, value) + params; a daily batch folds in at batch
  * cost via union + re-trim.
  */
object BottomK {

  /** The k DISTINCT `(h, v)` pairs with the smallest `md5(key)` hashes
    * (ties — only possible through NULL keys sharing the empty-string
    * hash — break on the value, keeping the draw deterministic).
    *
    * SET semantics: rows sharing both hash and value collapse BEFORE
    * the trim, so `sketch(corpus)` and `updateSketch`-folding the same
    * corpus in batches store the identical sidecar — duplicate
    * (key, value) rows can never displace genuine bottom-k entries
    * through multiplicity on either path. Plan note: the dedup is a
    * hash aggregate whose map side collapses intra-partition repeats,
    * so the exchange carries each partition's DISTINCT pairs (not its
    * rows) before the top-k; corpora whose sketch key is unique per
    * row pay a pair-shuffle where the pre-r13 multiset sketch paid
    * none — the price of an exactly-mergeable set sketch.
    */
  def sketch(df: DataFrame, keyCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"sketch size $k must be >= 1")
    df.select(Sampling.hashOrderKey(col(keyCol)).as("h"),
        col(valueCol).as("v"))
      .dropDuplicates("h", "v")
      .orderBy(col("h"), col("v"))
      .limit(k)
  }

  /** Empirical quantiles of the sketched sample: for each probability
    * `p`, the sample value at sorted index `floor(p * (n-1))` (0-based;
    * `n` = sample size, so p=0 is the sample min and p=1 the max). One
    * `(p, v)` row per requested probability, ascending. The index
    * arithmetic is a single IEEE multiply + floor — bit-reproducible
    * across engines (the mixture-cutoff discipline).
    */
  def quantiles(sketch: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "no probabilities requested")
    require(probs.forall(p => p >= 0 && p <= 1),
      s"probabilities outside [0,1]: ${probs.filter(p => p < 0 || p > 1)}")
    val one = sketch
      .agg(sort_array(collect_list(col("v").cast("double"))).as("_vs"))
    one.select(explode(array(probs.map(lit): _*)).as("p"), col("_vs"))
      .select(col("p"),
        element_at(col("_vs"),
          (floor(col("p") * (size(col("_vs")) - 1)) + 1).cast("int"))
          .as("v"))
      .orderBy("p")
  }

  /** Persist the sketch + its operating point (`k`, key/value column
    * names — part of the sketch identity, like every index sidecar).
    */
  def writeSketch(df: DataFrame, keyCol: String, valueCol: String,
      k: Int, path: String): Unit = {
    SidecarIO.atomicOverwriteDf(sketch(df, keyCol, valueCol, k),
      s"$path/sample")
    SidecarIO.writeParams(df.sparkSession, s"$path/params", "k" -> k,
      "keyCol" -> keyCol, "valueCol" -> valueCol)
  }

  /** Fold a new batch into the stored sketch at batch cost: sketch the
    * batch at the sidecar's STORED operating point, union, re-trim to
    * k, and swap the result in ([[SidecarFold]]; pass the returned state
    * back as `carried` to skip the next fold's reads). Folding the same
    * batch twice is EXACTLY a no-op: the merge deduplicates on `(h, v)`
    * before the re-trim, so a re-folded batch's rows are already present
    * (or already beaten) and cannot displace genuine bottom-k entries
    * through multiplicity. The sidecar therefore stores a SET of
    * `(hash, value)` pairs — rows sharing both key and value collapse,
    * which is exactly the identity the sketch can observe.
    */
  def updateSketch(spark: SparkSession, path: String, batch: DataFrame,
      carried: Option[SidecarFold[Row]] = None): SidecarFold[Row] =
    SidecarFold.fold(s"$path/sample", None, carried) {
      SidecarFold(SidecarIO.readParams(spark, s"$path/params"),
        readSketch(spark, path), None)
    } { st =>
      val k = st.params.getAs[Long]("k").toInt
      Some(st.copy(stored = st.stored
        .unionAll(sketch(batch, st.params.getAs[String]("keyCol"),
          st.params.getAs[String]("valueCol"), k))
        .dropDuplicates("h", "v")
        .orderBy(col("h"), col("v"))
        .limit(k)))
    }

  /** The stored sample, ready for [[quantiles]]. */
  def readSketch(spark: SparkSession, path: String): DataFrame =
    SidecarIO.readWithFallback(spark, s"$path/sample")
}
