package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece) tokenizer — the OTHER standard subword
  * family next to [[Bpe]] (Kudo 2018, "Subword Regularization"; the
  * Llama-family tokenizer): instead of a greedy merge loop, each word
  * is segmented by VITERBI — the minimum-total-cost split of the
  * marker-prefixed word over a piece→cost model, where cost is the
  * quantized negative log-probability of the piece.
  *
  * Exactness discipline (the [[LanguageModel]] rule): costs are LONGS
  * in micro-nat units, so Viterbi totals are exact integer sums and the
  * chosen segmentation is bit-identical in any engine — which is what
  * lets a DuckDB oracle replay the dynamic program. Tie rule, pinned on
  * both sides: lowest total cost, then the LONGEST candidate piece
  * (smallest split point), then vocab before the unknown fallback.
  *
  * Unknown characters: a single-character fallback piece at
  * `unkCost` (id `unkId`) — every word always has at least one parse,
  * the SentencePiece byte/char-fallback shape.
  *
  * Scale design (100 TB): identical to BPE's — the encode is a pure
  * per-row JVM kernel with NO shuffle, exposed as native codegen'd
  * Catalyst expressions ([[graft.functions.UnigramExpressions]]); the
  * model rides the task binary once per stage, a per-model word cache
  * amortizes Zipf-heavy text to one hash probe per word. Training
  * reduces the corpus to ONE bounded word-frequency aggregation, then
  * runs EM driver-side over the word dict (the published trainer
  * operates on the word dict, not the corpus).
  */
case class UnigramModel(
    costs: Map[String, Long],
    ids: Map[String, Int],
    marker: String = "▁",
    unkCost: Long = 20000000L, // ~20 nats: never beats a real parse
    unkId: Int = -1) extends Serializable {
  require(marker.nonEmpty && !marker.exists(_.isWhitespace),
    "marker must be non-empty and whitespace-free")
  require(costs.nonEmpty, "model must carry at least one piece")
  require(costs.keySet == ids.keySet,
    "costs and ids must cover the same pieces")

  /** Stable identity for executor-side word caches. */
  val modelId: String = java.util.UUID.randomUUID().toString

  /** Longest piece in CODE POINTS — the Viterbi lookback bound. */
  @transient lazy val maxLen: Int =
    costs.keys.map(p => p.codePointCount(0, p.length)).max

  @transient lazy val costOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](costs.size * 2)
    costs.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
}

/** The shared JVM kernel — interpreted eval, generated code and the
  * driver-side trainer all call these statics.
  */
object UnigramKernel {

  private val Inf = Long.MaxValue / 4

  private val wordCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f,
        true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean =
          size() > 65536
      })

  /** `marker + word` as an array of code-point strings (the DP's
    * positions — matching character-indexed `substr` in any engine).
    */
  private def codePoints(m: UnigramModel, word: String): Array[String] = {
    val w = m.marker + word
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      buf += w.substring(i, i + n)
      i += n
    }
    buf.toArray
  }

  /** One word's Viterbi pieces. Tie rule at each position: lowest
    * total cost, then smallest split point (longest piece), then vocab
    * over unknown — deterministic and SQL-replayable.
    */
  def pieces(m: UnigramModel, word: String): Array[String] = {
    val key = m.modelId + "\u0000" + word
    val hit = wordCache.get(key)
    if (hit != null) return hit
    val cps = codePoints(m, word)
    val n = cps.length
    val dp = Array.fill(n + 1)(Inf)
    val backJ = new Array[Int](n + 1)
    val backP = new Array[String](n + 1)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      // vocab candidates, longest first so the FIRST strict improvement
      // at equal cost is the longest piece (smallest j)
      var l = math.min(m.maxLen, i)
      while (l >= 1) {
        val j = i - l
        if (dp(j) < Inf) {
          val piece = cps.slice(j, i).mkString
          val c = m.costOf.get(piece)
          if (c != null) {
            val cand = dp(j) + c.longValue()
            if (cand < dp(i) ||
                (cand == dp(i) && j < backJ(i))) {
              dp(i) = cand; backJ(i) = j; backP(i) = piece
            }
          }
        }
        l -= 1
      }
      // unknown single-char fallback: LAST at equal (cost, j)
      if (dp(i - 1) < Inf) {
        val cand = dp(i - 1) + m.unkCost
        if (cand < dp(i)) {
          dp(i) = cand; backJ(i) = i - 1; backP(i) = cps(i - 1)
        }
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { out += backP(p); p = backJ(p) }
    val arr = out.reverseIterator.toArray
    wordCache.put(key, arr)
    arr
  }

  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  def countText(m: UnigramModel, text: String): Int = {
    var n = 0
    words(text).foreach(w => n += pieces(m, w).length)
    n
  }

  def piecesText(m: UnigramModel, text: String): Array[String] =
    words(text).flatMap(w => pieces(m, w))

  def encodeText(m: UnigramModel, text: String): Array[Int] =
    piecesText(m, text).map(p => m.ids.getOrElse(p, m.unkId))

  /** Total Viterbi cost of `text` in micro-nats (exact long sum) — the
    * unigram-LM negative log-likelihood, usable as a quality signal
    * exactly like [[LanguageModel]]'s bigram score.
    */
  def scoreText(m: UnigramModel, text: String): Long = {
    var s = 0L
    piecesText(m, text).foreach { p =>
      val c = m.costOf.get(p)
      s += (if (c != null) c.longValue() else m.unkCost)
    }
    s
  }

  // ---- UTF8String bridges for the native expressions (codegen calls)

  def countUtf8(m: UnigramModel, u: UTF8String): Int =
    countText(m, u.toString)

  def piecesUtf8(m: UnigramModel, u: UTF8String): GenericArrayData =
    new GenericArrayData(
      piecesText(m, u.toString).map(UTF8String.fromString(_): AnyRef))

  def encodeUtf8(m: UnigramModel, u: UTF8String): GenericArrayData =
    new GenericArrayData(encodeText(m, u.toString))

  def scoreUtf8(m: UnigramModel, u: UTF8String): Long =
    scoreText(m, u.toString)
}

object Unigram {

  /** Dense ids in (cost asc, piece asc) order — deterministic, shared
    * by [[train]] and planted fixtures.
    */
  def deriveIds(costs: Map[String, Long]): Map[String, Int] =
    costs.toSeq.sortBy { case (p, c) => (c, p) }
      .zipWithIndex.map { case ((p, _), i) => p -> i }.toMap

  /** Split a string into code-point strings (shared by the seed kernel
    * and the lattice E-step).
    */
  private[pipeline] def codePointsOf(w: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      buf += w.substring(i, i + n)
      i += n
    }
    buf.toArray
  }

  /** Expected-count quantum: one MICRO-count. Per-word posterior masses
    * quantize to micro-count longs before summation, so the E-step
    * total is an exact integer sum — order-independent, hence
    * bit-identical whether the per-word lattices run on the driver or
    * across executor partitions (the parity contract between [[train]]
    * modes). Envelope: long micro-counts saturate past ~9.2e12 tokens
    * of expected mass in the dict — train on a sample past that.
    */
  private val CountMicro = 1e6

  private def logsumexp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(-math.abs(a - b))) }

  /** One word's E-step: forward–backward over the segmentation lattice
    * (lookback `maxPieceLen`), each arc's freq-weighted posterior mass
    * quantized to micro-counts and added into `acc`. Pure per-word
    * arithmetic — the unit both the driver loop and the distributed
    * `mapPartitions` E-step call, so the two modes agree exactly.
    */
  private[pipeline] def accumulateExpected(
      logp: collection.Map[String, Double], cps: Array[String], f: Long,
      maxPieceLen: Int,
      acc: scala.collection.mutable.HashMap[String, Long]): Unit = {
    val n = cps.length
    def arc(j: Int, i: Int): Double = {
      val piece = if (i - j == 1) cps(j) else cps.slice(j, i).mkString
      logp.getOrElse(piece, Double.NegativeInfinity)
    }
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        val a = alpha(i - l)
        if (a != Double.NegativeInfinity) {
          val lp = arc(i - l, i)
          if (lp != Double.NegativeInfinity)
            alpha(i) = logsumexp(alpha(i), a + lp)
        }
        l += 1
      }
      i += 1
    }
    val z = alpha(n) // finite: single chars always carry mass
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    beta(n) = 0.0
    var j = n - 1
    while (j >= 0) {
      var l = 1
      while (l <= math.min(maxPieceLen, n - j)) {
        val b = beta(j + l)
        if (b != Double.NegativeInfinity) {
          val lp = arc(j, j + l)
          if (lp != Double.NegativeInfinity)
            beta(j) = logsumexp(beta(j), lp + b)
        }
        l += 1
      }
      j -= 1
    }
    // posterior mass of each arc, freq-weighted, micro-quantized
    j = 0
    while (j < n) {
      var l = 1
      while (l <= math.min(maxPieceLen, n - j)) {
        val lp = arc(j, j + l)
        if (lp != Double.NegativeInfinity &&
            alpha(j) != Double.NegativeInfinity &&
            beta(j + l) != Double.NegativeInfinity) {
          val post = math.exp(alpha(j) + lp + beta(j + l) - z)
          val q = math.rint(f * post * CountMicro).toLong
          if (q > 0L) {
            val piece =
              if (l == 1) cps(j) else cps.slice(j, j + l).mkString
            acc(piece) = acc.getOrElse(piece, 0L) + q
          }
        }
        l += 1
      }
      j += 1
    }
  }

  /** Train a unigram model — the published EM shape (Kudo 2018, §3.2):
    *
    *  1. ONE distributed aggregation → the bounded word-frequency
    *     table (top `maxWords` by count, words past `maxWordLen` code
    *     points dropped — a megabyte "word" is corpus noise, and the
    *     cap bounds every later lattice).
    *  2. Seed vocabulary: every substring of the marker-prefixed words
    *     up to `maxPieceLen`, scored by freq × length; counted
    *     DISTRIBUTEDLY (explode → sum → top `seedSize`), so the driver
    *     never materializes the raw substring universe — it collects
    *     exactly `seedSize` pieces plus the alphabet. Single characters
    *     always stay (the parse-exists invariant — every word has a
    *     path with no unknown arcs).
    *  3. `iters` soft-EM rounds: the E-step runs FORWARD–BACKWARD over
    *     each word's segmentation lattice (soft counts — every parse
    *     contributes its posterior mass, not just the Viterbi one),
    *     per-arc mass quantized to micro-counts so totals are exact
    *     integer sums; the M-step re-estimates each piece's probability
    *     from its expected-count share and drops multi-char pieces with
    *     no mass. With `distributedE = true` the lattices run in
    *     `mapPartitions` over the word-frequency frame (model broadcast
    *     per round, expected counts reduced through one keyed agg — the
    *     KMeans Lloyd discipline), lifting the driver-side dict bound;
    *     micro-count quantization makes the two modes BIT-IDENTICAL.
    *  4. Prune to `vocabSize` by expected count (single chars kept).
    *
    * Deterministic: fixed word order, fixed arc order, integer count
    * reductions, sorted-key M-step — training twice (in either mode)
    * yields the identical model.
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
      marker: String = "▁", maxPieceLen: Int = 8,
      seedSize: Int = 1 << 16, iters: Int = 4,
      maxWords: Int = 1 << 20, maxWordLen: Int = 1 << 10,
      distributedE: Boolean = false): UnigramModel = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // 1. the bounded word-frequency frame — consumed by the seed agg,
    // the driver dict, and (distributed mode) every E-step round
    val wcDs = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(maxWords)
      .as[(String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 2. seed: substring scores (freq × length) counted distributedly;
    // the driver collects top-seedSize plus the (bounded) alphabet
    val mk = marker
    val mpl = maxPieceLen
    val subScores = wcDs.mapPartitions { it =>
      it.flatMap { case (w0, f) =>
        val cps = codePointsOf(mk + w0)
        val n = cps.length
        (0 until n).iterator.flatMap { s =>
          ((s + 1) to math.min(n, s + mpl)).iterator.map { e =>
            (cps.slice(s, e).mkString, e - s, f * (e - s))
          }
        }
      }
    }.toDF("piece", "ncps", "score")
      .groupBy("piece").agg(max("ncps").as("ncps"),
        sum("score").as("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chars: Seq[String] = subScores.filter(col("ncps") === 1)
      .select("piece").as[String].collect().toSeq.sorted
    val seedTop = subScores
      .orderBy(desc("score"), asc("piece"))
      .limit(seedSize)
      .select("piece").as[String].collect().toSeq
    subScores.unpersist()
    val seed = (seedTop ++ chars).distinct
    // initial probabilities: uniform over the seed
    var logp: Map[String, Double] =
      seed.map(_ -> -math.log(seed.size.toDouble)).toMap

    // driver dict (only the driver-mode E-step walks it; sorted for a
    // stable iteration order, though integer count sums no longer
    // depend on it)
    val words: Array[(Array[String], Long)] =
      if (distributedE) Array.empty
      else wcDs.collect().sortBy { case (w, f) => (-f, w) }
        .map { case (w, f) => (codePointsOf(marker + w), f) }

    // 3. soft-EM rounds: forward–backward expected counts per word
    for (_ <- 1 to iters) {
      val expected = scala.collection.mutable.HashMap.empty[String, Long]
      if (distributedE) {
        val bLogp = spark.sparkContext.broadcast(logp)
        val partial = wcDs.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { case (w0, f) =>
            accumulateExpected(bLogp.value, codePointsOf(mk + w0), f,
              mpl, acc)
          }
          acc.iterator
        }.toDF("piece", "c")
          .groupBy("piece").agg(sum("c").as("c"))
          .as[(String, Long)].collect()
        bLogp.destroy()
        partial.foreach { case (p, c) => expected(p) = c }
      } else {
        words.foreach { case (cps, f) =>
          accumulateExpected(logp, cps, f, maxPieceLen, expected)
        }
      }
      // M-step over SORTED keys (deterministic FP reduction); chars
      // keep a floor so the parse-exists invariant survives
      val kept = logp.keysIterator.toSeq.sorted.flatMap { p =>
        val c = expected.getOrElse(p, 0L).toDouble / CountMicro
        if (c > 0.0) Some(p -> c)
        else if (p.codePointCount(0, p.length) == 1) Some(p -> 1e-9)
        else None
      }
      val total = kept.map(_._2).sum
      logp = kept.map { case (p, c) => p -> math.log(c / total) }.toMap
    }
    wcDs.unpersist()

    // 4. prune to vocabSize by expected share (chars always kept)
    val ranked = logp.toSeq
      .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
      .sortBy { case (p, lp) => (-lp, p) }
      .take(math.max(0, vocabSize - chars.size)).map(_._1).toSet ++
      chars
    val keptLp = logp.view.filterKeys(ranked).toSeq.sortBy(_._1)
    // renormalize over the survivors, then quantize to micro-nat costs
    val logTotal = keptLp.map(_._2)
      .foldLeft(Double.NegativeInfinity)(logsumexp)
    val costs = keptLp.map { case (p, lp) =>
      p -> math.round(-(lp - logTotal) * 1e6)
    }.toMap
    UnigramModel(costs, deriveIds(costs), marker)
  }

  // --------------------------------------------------- model sidecar IO

  /** Persist as a parquet sidecar: `pieces` (piece, cost_micro, id),
    * `params` (one row) — the [[Bpe.writeModel]] layout family.
    */
  def writeModel(spark: SparkSession, m: UnigramModel,
      path: String): Unit = {
    import spark.implicits._
    m.costs.toSeq.map { case (p, c) => (p, c, m.ids(p)) }
      .sortBy(_._3)
      .toDF("piece", "cost_micro", "id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pieces")
    Seq((m.marker, m.unkCost, m.unkId))
      .toDF("marker", "unk_cost", "unk_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def readModel(spark: SparkSession, path: String): UnigramModel = {
    val rows = spark.read.parquet(s"$path/pieces").collect()
    val costs = rows.map(r =>
      r.getAs[String]("piece") -> r.getAs[Long]("cost_micro")).toMap
    val ids = rows.map(r =>
      r.getAs[String]("piece") -> r.getAs[Int]("id")).toMap
    val p = spark.read.parquet(s"$path/params").collect()(0)
    UnigramModel(costs, ids, p.getAs[String]("marker"),
      p.getAs[Long]("unk_cost"), p.getAs[Int]("unk_id"))
  }

  // --------------------------------------------- session model registry

  /** Named models for the SQL surface (`graft_unigram_count(text,
    * 'name')` resolves the literal here at analysis time).
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, UnigramModel]()

  def registerModel(name: String, m: UnigramModel): Unit =
    registry.put(name, m)

  def model(name: String): UnigramModel = {
    val m = registry.get(name)
    if (m == null) throw new IllegalArgumentException(
      s"no unigram model registered as '$name' — call " +
        "Unigram.registerModel(name, model) first")
    m
  }
}
