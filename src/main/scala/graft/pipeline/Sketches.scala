package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, via
  * Spark's native `hll_sketch_agg` family) with a persisted sidecar —
  * corpus-wide cardinality statistics that UPDATE at daily-batch cost:
  * sketch the batch, union it into the stored sketches, never rescan
  * the corpus. The union's REGISTER state is a pointwise max —
  * deterministic, associative, idempotent — but DataSketches' ESTIMATOR
  * choice is path-dependent (HIP accumulator carries through sparse
  * coupon replays, the composite estimator takes over after a dense
  * merge), so estimates across different batchings of the same corpus
  * agree to a tight envelope rather than bit-exactly, and re-folding an
  * already-folded batch is EXACTLY a no-op (its coupons are all known —
  * nothing in the state moves). SketchesSpec and the oracle row pin
  * precisely these claims, plus the lgK error envelope vs exact counts.
  *
  * Scale design: one aggregate over one scan (the [[Profile]] shape);
  * each partition reduces to `lgK`-bounded sketch bytes, the shuffle
  * carries one row per partition, and the sidecar is KB-sized per
  * column. Values are sketched through `cast(string)` so a column's
  * identity is its rendered value — stable across batches and column
  * physical types.
  */
object Sketches {

  /** One HLL sketch per listed column, as `(col_name, sketch)` rows. */
  def columnSketches(df: DataFrame, cols: Seq[String],
      lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "no columns to sketch")
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      hll_sketch_agg(col(c).cast("string"), lit(lgK)).as(s"_s$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacks = cols.zipWithIndex.map { case (c, i) => s"'$c', _s$i" }
    one.select(expr(s"stack(${cols.length}, ${stacks.mkString(", ")}) " +
      "AS (col_name, sketch)"))
  }

  /** Persist column sketches + their operating point (`lgK`, columns);
    * the sketches land through the [[SidecarIO]] swap.
    */
  def writeSketches(df: DataFrame, cols: Seq[String], path: String,
      lgK: Int = 12): Unit = {
    SidecarIO.atomicOverwriteDf(columnSketches(df, cols, lgK),
      s"$path/sketches")
    SidecarIO.writeParams(df.sparkSession, s"$path/params", "lgK" -> lgK,
      "cols" -> cols.mkString(","))
  }

  /** Fold a new batch into the stored sketches — batch-sized cost, no
    * corpus rescan. The batch is sketched at the sidecar's STORED lgK
    * (part of the sketch identity, like index params), unioned per
    * column, and swapped in ([[SidecarFold]]; pass the returned state
    * back as `carried` to skip the next fold's reads).
    */
  def updateSketches(spark: SparkSession, path: String, batch: DataFrame,
      carried: Option[SidecarFold[Row]] = None): SidecarFold[Row] =
    SidecarFold.fold(s"$path/sketches", None, carried) {
      SidecarFold(SidecarIO.readParams(spark, s"$path/params"),
        SidecarIO.readWithFallback(spark, s"$path/sketches"), None)
    } { st =>
      Some(st.copy(stored = st.stored
        .union(columnSketches(batch,
          st.params.getAs[String]("cols").split(",").toSeq,
          st.params.getAs[Long]("lgK").toInt))
        .groupBy("col_name")
        .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))))
    }

  /** Distinct-count estimates from a persisted sidecar (a crashed swap
    * serves the previous generation).
    */
  def estimates(spark: SparkSession, path: String): DataFrame =
    SidecarIO.readWithFallback(spark, s"$path/sketches")
      .select(col("col_name"),
        hll_sketch_estimate(col("sketch")).as("n_distinct_est"))
}
