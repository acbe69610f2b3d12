package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Count-Min frequency sketch — the frequency member of the mergeable
  * sidecar family ([[Sketches]] answers "how many distinct",
  * [[BottomK]] "what does the distribution look like", [[Bloom]] "is
  * this key present", this one "about how often does this key occur"):
  * a `depth × width` grid of counters where every key increments one
  * counter per row; a point estimate reads the MINIMUM of its cells —
  * never an underestimate, over by at most the collision mass
  * (ε ≈ e/width of the total count at confidence 1 − e^−depth).
  *
  * Determinism contract (the md5-bucket discipline shared with
  * [[Sampling]]): row `r`'s bucket for a key is the first four hex
  * chars of `md5("r:key")` read as an integer, mod `width` — cheap,
  * engine-independent, and replayable in plain SQL (the DuckDB oracle
  * recomputes every cell and every estimate exactly; `width` must be a
  * power of two ≤ 65536 so the 16-bit slice maps onto buckets without
  * bias). Counts are exact longs, so the sketch is deterministic on
  * any partitioning and EXACTLY mergeable by cellwise addition —
  * `merge(sketch(a), sketch(b)) == sketch(a ∪ b)` bit-for-bit
  * (counts-additivity, the [[LanguageModel.merge]] property; note the
  * contrast with [[Bloom]]'s idempotent OR — folding the same batch
  * twice double-counts, additive sidecars fold each batch once).
  *
  * Scale design: the build is one map-only `depth`-way explode into a
  * single hash aggregate on `(r, c)` — bounded at `depth × width`
  * cells by construction, so the exchange after map-side combine
  * carries at most that many rows per partition. Estimation joins the
  * candidate keys' exploded cells against the BROADCAST cell grid
  * (the grid is KB-sized by construction) and takes a per-key `min` —
  * no corpus-sized shuffle anywhere.
  */
object CountMin {

  private def checkDims(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 16, s"depth $depth outside [1,16]")
    require(width >= 2 && width <= 65536 && (width & (width - 1)) == 0,
      s"width $width must be a power of two in [2, 65536]")
  }

  /** Row-`r` bucket for `key`: first 16 bits of `md5("r:key")` mod
    * width. Part of the sketch identity — the oracle replays it.
    */
  private def bucket(r: Column, key: Column, width: Int): Column =
    (conv(substring(md5(concat(r.cast("string"), lit(":"),
      key.cast("string"))), 1, 4), 16, 10).cast(LongType)
      % width).cast("int")

  /** One `(r, c, cnt)` row per key and grid row, unsummed: `cnt` is
    * the row's weight (1 without `weightCol`). NULL keys are skipped.
    */
  private def rawCells(df: DataFrame, keyCol: String, depth: Int,
      width: Int, weightCol: Option[String] = None): DataFrame = {
    checkDims(depth, width)
    val w = weightCol.map(col(_).cast(LongType)).getOrElse(lit(1L))
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("_k"), w.as("_w"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"), bucket(col("r"), col("_k"), width).as("c"),
        col("_w").as("cnt"))
  }

  /** The sparse cell grid: one row per NON-ZERO cell, `(r, c, cnt)`.
    * NULL keys are skipped (nothing to count). Pass `weightCol` to
    * accumulate a weight instead of an occurrence count.
    */
  def sketch(df: DataFrame, keyCol: String, depth: Int, width: Int,
      weightCol: Option[String] = None): DataFrame =
    sumCells(rawCells(df, keyCol, depth, width, weightCol))

  private def sumCells(cells: DataFrame): DataFrame =
    cells.groupBy("r", "c").agg(sum(col("cnt")).cast(LongType).as("cnt"))

  /** Cellwise-additive merge: `merge(sketch(a), sketch(b))` equals
    * `sketch(a ∪ b)` exactly (both grids must share depth/width —
    * enforced by the sidecar params on the persisted path).
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame = sumCells(a.unionAll(b))

  /** Point estimates for a frame of candidate keys: `(key, est)` with
    * `est = min` over the key's `depth` cells (absent cell = 0 —
    * possible only for keys never inserted). Never underestimates an
    * inserted key's true count. The cell grid is broadcast (bounded at
    * depth × width rows by construction); the only shuffle is the
    * per-key min aggregate.
    */
  def estimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame = {
    checkDims(depth, width)
    keys.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("key"), col("r"),
        bucket(col("r"), col("key"), width).as("c"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).cast(LongType).as("est"))
  }

  /** Persist the sidecar: sparse cells + operating point. */
  def writeSketch(df: DataFrame, keyCol: String, depth: Int,
      width: Int, path: String): Unit = {
    SidecarIO.atomicOverwriteDf(sketch(df, keyCol, depth, width),
      s"$path/cells")
    SidecarIO.writeParams(df.sparkSession, s"$path/params", "depth" -> depth,
      "width" -> width, "key_col" -> keyCol)
  }

  /** The stored grid + its params, for [[estimate]]/[[updateSketch]]
    * (the replay-guard sentinel row is stripped; a crashed swap serves
    * the previous generation).
    */
  def readSketch(spark: SparkSession, path: String)
      : (DataFrame, Int, Int) = {
    val p = SidecarIO.readParams(spark, s"$path/params")
    (SidecarIO.readWithFallback(spark, s"$path/cells")
        .filter(col("r") >= 0),
      p.getAs[Long]("depth").toInt, p.getAs[Long]("width").toInt)
  }

  /** Fold a NEW batch into the stored sidecar at batch cost. The grid
    * is ADDITIVE, so unlike the bloom's idempotent OR a replayed batch
    * double-counts — callers with an at-least-once source (Structured
    * Streaming `foreachBatch` after checkpoint recovery) pass the
    * batch id, and a batch at or below the last folded id is SKIPPED.
    * The folded id travels as a sentinel row `(r = -1, c = 0,
    * cnt = batchId)` inside the SAME atomic cells swap, so the guard
    * and the counts can never disagree across a crash; [[readSketch]]
    * and [[estimate]] read through the sentinel-stripping filter.
    * Pass the returned state back as `carried` to skip the next fold's
    * params, cells and guard reads ([[SidecarFold]]). The batch's raw
    * cell rows and the stored cells are summed in one `(r, c)`
    * aggregate (map-side combined), so a fold runs one exchange.
    */
  def updateSketch(spark: SparkSession, path: String,
      batch: DataFrame, batchId: Option[Long] = None,
      carried: Option[SidecarFold[Row]] = None): SidecarFold[Row] =
    SidecarFold.fold(s"$path/cells", batchId, carried) {
      val cells = SidecarIO.readWithFallback(spark, s"$path/cells")
      SidecarFold(SidecarIO.readParams(spark, s"$path/params"), cells,
        cells.filter(col("r") === -1).select("cnt").collect()
          .headOption.map(_.getLong(0)))
    } { st =>
      val p = st.params
      val merged = merge(st.stored.filter(col("r") >= 0),
        rawCells(batch, p.getAs[String]("key_col"),
          p.getAs[Long]("depth").toInt, p.getAs[Long]("width").toInt))
      // keep an existing guard through un-id'd folds
      val guard = batchId.orElse(st.guard)
      Some(SidecarFold(p, guard.fold(merged)(id => merged.unionAll(
        spark.range(1).select(lit(-1).cast("int").as("r"),
          lit(0).cast("int").as("c"), lit(id).as("cnt")))), guard))
    }
}
