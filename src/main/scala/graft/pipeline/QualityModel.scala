package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-based quality filtering: a linear classifier over cheap,
  * exactly-replayable text features — the pipeline stage the published
  * web-corpus recipes call "model-based filtering" (CCNet / GPT-3 /
  * RefinedWeb train a small classifier on a curated seed corpus and
  * keep raw documents the model scores as seed-like). The heuristic
  * [[TextAnalysis.qualityScore]] stays the zero-setup gate; this is
  * the trainable one.
  *
  * Exactness contract (what makes the scorer oracle-checkable): every
  * feature is integer-derived (token/char/class counts via length
  * arithmetic), each feature enters the logit through one literal
  * multiply of one quotient, and terms accumulate STRICTLY left to
  * right — a fixed IEEE-754 double op sequence any ANSI engine replays
  * bit-for-bit. The published logit is quantized to `floor(z × 1e6)`
  * exact longs; the keep decision thresholds the QUANTIZED value, so
  * scorer and oracle can never disagree on a boundary. The sigmoid is
  * presentation-only (monotone in the logit — ranking and thresholding
  * never need it), keeping `exp`'s libm variance out of the contract.
  *
  * Scale design (100 TB): scoring is a pure map — whole-stage-codegen'd
  * length/replace arithmetic, no shuffle, no UDF, weights are plan
  * literals (5 doubles). Training is batch gradient descent where each
  * iteration is ONE distributed aggregate (the 6-component gradient
  * sum); the corpus is featurized once and cached, iterations touch
  * only the cached projection, and nothing per-row ever reaches the
  * driver.
  */
object QualityModel {

  /** Feature vector (all derived from one text column):
    *   f1 = least(tokens, 100) / 100.0      — length, saturating
    *   f2 = alpha_chars / max(chars, 1)     — alphabetic ratio
    *   f3 = digit_chars / max(chars, 1)     — digit ratio
    *   f4 = ((chars - spaces) / max(tokens, 1)) / 12.0 — avg word len
    * Ratios of exact integers: one double divide each.
    */
  final case class LinearModel(bias: Double, wTokens: Double,
      wAlpha: Double, wDigit: Double, wAwl: Double) extends Serializable

  /** A reasonable hand-set operating point: rewards length and letters,
    * penalizes digit-heavy boilerplate, mildly rewards word length.
    */
  val default: LinearModel = LinearModel(
    bias = -1.5, wTokens = 2.0, wAlpha = 2.5, wDigit = -4.0, wAwl = 0.5)

  /** Quantization scale for the published logit. */
  val scaleQ: Double = 1e6

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** The four feature quotients, in contract order. */
  private[pipeline] def features(text: Column): Seq[Column] = {
    val toks = TextAnalysis.tokenCount(text)
    val len = length(text)
    val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
    val digit = length(regexp_replace(text, "[^0-9]", ""))
    val spaces = TextAnalysis.occ(text, " ")
    Seq(
      dbl(least(toks, lit(100))) / lit(100.0),
      dbl(alpha) / dbl(greatest(len, lit(1))),
      dbl(digit) / dbl(greatest(len, lit(1))),
      (dbl(len - spaces) / dbl(greatest(toks, lit(1)))) / lit(12.0))
  }

  /** Raw double logit: bias + Σ w_i · f_i, accumulated left to right. */
  def logit(text: Column, m: LinearModel): Column = {
    val ws = Seq(m.wTokens, m.wAlpha, m.wDigit, m.wAwl)
    features(text).zip(ws).foldLeft(lit(m.bias): Column) {
      case (acc, (f, w)) => acc + lit(w) * f
    }
  }

  /** Exact published score: floor(logit × 1e6) as a long. */
  def logitQ(text: Column, m: LinearModel): Column =
    floor(logit(text, m) * lit(scaleQ)).cast(LongType)

  /** Presentation-only probability (NOT part of the exactness
    * contract — see class doc).
    */
  def probability(text: Column, m: LinearModel): Column =
    lit(1.0) / (lit(1.0) + exp(-logit(text, m)))

  /** Score a corpus: adds `logit_q` and `keep` (logit_q >= floor(
    * threshold × 1e6) — thresholding the quantized value keeps the
    * decision exact).
    */
  def score(df: DataFrame, textCol: String, m: LinearModel = default,
      threshold: Double = 0.0): DataFrame = {
    val tq = math.floor(threshold * scaleQ).toLong
    df.withColumn("logit_q", logitQ(col(textCol), m))
      .withColumn("keep", col("logit_q") >= lit(tq))
  }

  /** Keep-only filter (the pipeline-stage shape). */
  def filterByModel(df: DataFrame, textCol: String,
      m: LinearModel = default, threshold: Double = 0.0): DataFrame =
    score(df, textCol, m, threshold).filter(col("keep"))
      .drop("logit_q", "keep")

  // ------------------------------------------------------------ training

  /** Batch-gradient logistic regression on a labeled seed corpus
    * (`labelCol` ∈ {0, 1}: 1 = seed-quality). Each iteration is one
    * distributed aggregate over the cached feature projection: the
    * gradient of the log loss, ∇ = Σ (σ(z) − y) · [1, f…] / n, applied
    * with a constant learning rate. Deterministic given a deterministic
    * input (float sum order varies across partitionings — training is
    * estimation, not part of the replay contract; the SCORER is).
    */
  def train(df: DataFrame, textCol: String, labelCol: String,
      iters: Int = 50, lr: Double = 1.0,
      init: LinearModel = LinearModel(0, 0, 0, 0, 0)): LinearModel = {
    require(iters >= 1 && lr > 0, s"iters $iters / lr $lr invalid")
    val fs = features(col(textCol))
    val proj = df.select(
      (col(labelCol).cast(DoubleType).as("y") +: fs.zipWithIndex.map {
        case (f, i) => f.as(s"f$i")
      }): _*)
    val cached = proj.cache()
    try {
      val n = cached.count().toDouble
      require(n > 0, "training corpus is empty")
      var m = init
      var it = 0
      while (it < iters) {
        val z = Seq(m.wTokens, m.wAlpha, m.wDigit, m.wAwl).zipWithIndex
          .foldLeft(lit(m.bias): Column) { case (acc, (w, i)) =>
            acc + lit(w) * col(s"f$i")
          }
        val err = (lit(1.0) / (lit(1.0) + exp(-z))) - col("y")
        val g = cached.agg(
          sum(err).as("g0"), sum(err * col("f0")).as("g1"),
          sum(err * col("f1")).as("g2"), sum(err * col("f2")).as("g3"),
          sum(err * col("f3")).as("g4")).head()
        def gi(i: Int): Double = g.getDouble(i) / n
        m = LinearModel(m.bias - lr * gi(0), m.wTokens - lr * gi(1),
          m.wAlpha - lr * gi(2), m.wDigit - lr * gi(3),
          m.wAwl - lr * gi(4))
        it += 1
      }
      m
    } finally cached.unpersist()
  }

  // --------------------------------------------------------- persistence

  private val modelSchema = StructType(Seq(
    StructField("bias", DoubleType, nullable = false),
    StructField("w_tokens", DoubleType, nullable = false),
    StructField("w_alpha", DoubleType, nullable = false),
    StructField("w_digit", DoubleType, nullable = false),
    StructField("w_awl", DoubleType, nullable = false)))

  /** Persist as a one-row parquet sidecar (crash-safe swap). */
  def writeModel(spark: SparkSession, path: String, m: LinearModel): Unit =
    SidecarIO.atomicOverwriteDf(spark.createDataFrame(
      java.util.Collections.singletonList(
        Row(m.bias, m.wTokens, m.wAlpha, m.wDigit, m.wAwl)),
      modelSchema), path)

  /** The stored model (a crashed swap serves the previous generation). */
  def readModel(spark: SparkSession, path: String): LinearModel = {
    val r = SidecarIO.readWithFallback(spark, path).head()
    LinearModel(r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
  }
}
