package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns (Jégou, Douze &
  * Schmid, "Product Quantization for Nearest Neighbor Search", IEEE
  * TPAMI 2011 — the source of the subspace-codebook/ADC/IVFADC
  * design re-expressed here as Spark scans) — the ANN
  * compression tier below [[Similarity]]'s scalar int8 path: each
  * vector splits into `numSubspaces` contiguous subvectors, each
  * subvector is replaced by the id of its nearest codebook centroid,
  * and a query scores a vector by summing per-subspace LOOKUPS instead
  * of touching floats (asymmetric distance computation, ADC).
  *
  * Scale design (the reason PQ exists at 100 TB): an encoded corpus
  * row is `numSubspaces` single-byte codes — 8 bytes against the 256
  * raw float bytes of a 64-dim embedding (32×) — so an ADC scan reads
  * ~3% of the bytes a brute-force scan reads, and the whole scan stays
  * map-only: queries broadcast as precomputed LUTs
  * (`numSubspaces` × `codesPerSubspace` doubles each), every partition
  * keeps a bounded per-query top-k heap, and only
  * partitions × queries × k candidate rows reach the final merge —
  * never |corpus| × |queries|. Compose with the IVF index layout
  * ([[Similarity.writeIvfIndex]]) for partition pruning × code
  * compression.
  *
  * Exactness discipline (oracle queries): with integer-VALUED inputs
  * (planted codebooks + `floor(x*256)`-quantized vectors) every double
  * intermediate is an exact integer far below 2^53, so distances,
  * argmins and ADC sums are bit-identical across engines and
  * SUMMATION-ORDER-FREE — the quantize-before-sum rule. The float
  * path (trained codebooks) is spec-covered instead; its tie-breaks
  * (lowest code, then lowest id) are pinned here all the same.
  */
object ProductQuant {

  /** `centroids(s)(c)` = the `subDim` floats of code `c` in subspace
    * `s`; all subspaces carry the same code count.
    */
  final case class PqCodebook(subDim: Int,
      centroids: Array[Array[Array[Float]]]) {
    require(centroids.nonEmpty && centroids.forall(_.nonEmpty),
      "codebook must have >= 1 subspace and >= 1 code")
    require(centroids.forall(_.forall(_.length == subDim)),
      "every centroid must have subDim components")
    def numSubspaces: Int = centroids.length
    def codesPerSubspace: Int = centroids(0).length
    def dim: Int = numSubspaces * subDim
  }

  // ------------------------------------------------------------ kernels

  /** Squared L2 between `v[off, off+subDim)` and centroid `cv`,
    * ascending-j fold (pinned order; on integer-valued inputs the
    * doubles are exact, so the order is also irrelevant there).
    */
  private def subDistJ(v: Array[Float], off: Int,
      cv: Array[Float]): Double = {
    var acc = 0.0
    var j = 0
    while (j < cv.length) {
      val d = v(off + j).toDouble - cv(j).toDouble
      acc += d * d
      j += 1
    }
    acc
  }

  /** PQ codes for one vector: per subspace the argmin-distance code,
    * ties to the LOWEST code id.
    */
  private[pipeline] def encodeJ(v: Array[Float],
      cb: PqCodebook): Array[Int] = {
    require(v.length == cb.dim,
      s"vector dim ${v.length} != codebook dim ${cb.dim}")
    Array.tabulate(cb.numSubspaces) { s =>
      val cs = cb.centroids(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = subDistJ(v, s * cb.subDim, cs(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Reconstruction: concatenated centroid of each code. */
  private[pipeline] def decodeJ(codes: Array[Int],
      cb: PqCodebook): Array[Float] = {
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.numSubspaces) {
      System.arraycopy(cb.centroids(s)(codes(s)), 0, out,
        s * cb.subDim, cb.subDim)
      s += 1
    }
    out
  }

  /** One query's ADC lookup table: `lut(s)(c)` = squared L2 between the
    * query's subvector `s` and centroid `c`.
    */
  private[pipeline] def lutJ(q: Array[Float],
      cb: PqCodebook): Array[Array[Double]] =
    Array.tabulate(cb.numSubspaces)(s =>
      Array.tabulate(cb.codesPerSubspace)(c =>
        subDistJ(q, s * cb.subDim, cb.centroids(s)(c))))

  /** ADC distance of one encoded row: ascending-subspace LUT sum. */
  private[pipeline] def adcJ(codes: Array[Int],
      lut: Array[Array[Double]]): Double = {
    var acc = 0.0
    var s = 0
    while (s < codes.length) { acc += lut(s)(codes(s)); s += 1 }
    acc
  }

  // ---------------------------------------------------------- codebooks

  /** Per-subspace Lloyd's k-means on one bounded DETERMINISTIC sample
    * (same discipline as [[Similarity.trainIvfCentroids]]:
    * hash-ordered top-`sampleN` — corpus-wide, no ingestion-order
    * bias; evenly spaced init; empty cells keep their centroid). One
    * corpus-side `limit(sampleN)` collect bounds driver state by
    * construction; the loop is driver-side over the sample only.
    */
  def trainCodebook(df: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, codesPerSubspace: Int,
      sampleN: Int = 10000, iters: Int = 5): PqCodebook = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .orderBy(graft.pipeline.Sampling.hashOrderKey(col(idCol)),
        col(idCol))
      .limit(sampleN)
      .as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % numSubspaces == 0,
      s"dim $dim not divisible into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    val centroids = Array.tabulate(numSubspaces) { s =>
      val k = math.min(codesPerSubspace, sample.length)
      var cs = Array.tabulate(k)(i =>
        sample(i * sample.length / k)
          .slice(s * subDim, (s + 1) * subDim))
      for (_ <- 1 to iters) {
        val sums = Array.fill(cs.length)(new Array[Double](subDim))
        val counts = new Array[Int](cs.length)
        sample.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            val d = subDistJ(v, s * subDim, cs(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < subDim) {
            sums(best)(j) += v(s * subDim + j); j += 1
          }
        }
        cs = cs.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else Array.tabulate(subDim)(j =>
            (sums(c)(j) / counts(c)).toFloat)
        }
      }
      cs
    }
    PqCodebook(subDim, centroids)
  }

  /** Deterministic INTEGER-VALUED codebook for bit-level oracle replay:
    * component `j` of code `c` in subspace `s` is
    * `(((c*7 + s*3 + j*5) mod 16) - 8) * 32` — dyadic, exact in float
    * and double, spanning [-256, 224] (the scale of
    * `floor(x*256)`-quantized unit-ish embeddings).
    */
  def plantedCodebook(numSubspaces: Int, subDim: Int,
      codesPerSubspace: Int): PqCodebook =
    PqCodebook(subDim, Array.tabulate(numSubspaces)(s =>
      Array.tabulate(codesPerSubspace)(c =>
        Array.tabulate(subDim)(j =>
          ((((c * 7 + s * 3 + j * 5) % 16) - 8) * 32).toFloat))))

  // ----------------------------------------------------------- operators

  /** Encode a corpus: one broadcast-codebook map over the rows →
    * `(id, codes array<smallint>)`. Column-friendly operator shape;
    * [[writePqIndex]] packs the same codes to one byte each for the
    * persisted layout.
    */
  def encodeDf(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebook, idAs: String = "id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, encodeJ(v, bc.value).map(_.toShort))
      }
      .toDF(idAs, "codes")
  }

  /** ADC top-`k` of an ENCODED corpus `(idCol, codesCol)` against raw
    * query vectors: queries collect (bounded by contract — a query
    * workload, not a corpus), their LUTs broadcast, the code scan is
    * map-only with per-partition bounded heaps (ties: lowest adc, then
    * lowest id), and a final per-query window ranks the
    * partitions × queries × k survivors. Output:
    * `(query_id, id, adc, rank)` with `adc` the double LUT sum.
    */
  def adcTopK(codes: DataFrame, idCol: String, codesCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      cb: PqCodebook, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Array[Double]])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, lutJ(qv, cb)) }
    val bc = spark.sparkContext.broadcast(qRows)
    val partial = codes
      .select(col(idCol).cast("long"),
        col(codesCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qs = bc.value
        // head = current WORST survivor (largest adc, then largest id)
        val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
          case (d, id) => (d, id)
        }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue
            .empty[(Double, Long)](worstFirst))
        it.foreach { case (id, cs) =>
          var qi = 0
          while (qi < qs.length) {
            val d = adcJ(cs, qs(qi)._2)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((d, id))
            else {
              val (wd, wid) = h.head
              if (d < wd || (d == wd && id < wid)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d, id) => (qs(qi)._1, id, d) }
        }
      }.toDF("query_id", "id", "adc")
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("id"))
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "id", "adc", "rank")
  }

  /** Encode-then-scan convenience over a raw corpus. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      cb: PqCodebook, k: Int): DataFrame =
    adcTopK(encodeDf(corpus, idCol, vecCol, cb), "id", "codes",
      queries, qIdCol, qVecCol, cb, k)

  // ------------------------------------------------------ persisted index

  /** Persist the encoded corpus + a self-describing codebook sidecar.
    * Codes pack to ONE BYTE each (`codesPerSubspace` <= 256 enforced) —
    * the 32× byte cut over raw floats that makes the 100 TB ADC scan
    * cheap; the sidecar carries the full codebook + identity so a
    * reader can validate a query workload against the index.
    */
  /** `recallSampleN` > 0 additionally measures the shortlist →
    * recall@`recallK` curve ([[pqShortlistCurve]]) and stores the
    * smallest shortlist meeting `recallTarget` in the sidecar — the
    * measured rerank dial a reader passes to [[pqRerankTopK]], the
    * same measure-don't-guess contract as the IVF index's derived
    * nProbe. 0 skips the measurement (-1 stored).
    */
  def writePqIndex(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebook, path: String, recallK: Int = 10,
      recallTarget: Double = 0.95, recallSampleN: Int = 100): Unit = {
    require(cb.codesPerSubspace <= 256,
      "one-byte packing requires <= 256 codes per subspace")
    val spark = df.sparkSession
    import spark.implicits._
    val derived =
      if (recallSampleN <= 0) None
      else Some(derivePqShortlist(
        pqShortlistCurve(df, idCol, vecCol, cb, recallK,
          recallSampleN), recallTarget))
    val bc = spark.sparkContext.broadcast(cb)
    // rebuild: stale append deltas must not survive into the new index
    IndexDeltas.clearDeltas(spark, path)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, encodeJ(v, bc.value).map(c => (c & 0xFF).toByte))
      }
      .toDF("id", "codes")
      .write.mode("overwrite").parquet(path)
    SidecarIO.writeParams(spark, s"$path.codebook",
      "centroids" -> cb.centroids, "subDim" -> cb.subDim,
      "numSubspaces" -> cb.numSubspaces,
      "codesPerSubspace" -> cb.codesPerSubspace, "dim" -> cb.dim,
      "metric" -> "l2", "shortlist" -> derived.map(_._1).getOrElse(-1),
      "shortlistRecall" -> derived.map(_._2).getOrElse(-1.0),
      "recallK" -> recallK)
  }

  /** Fold a batch of NEW vectors into a persisted flat PQ index at
    * batch cost: encoded with the STORED codebook (bit-identical to a
    * rebuild's codes) into its own delta under `<path>.delta`
    * ([[IndexDeltas]] — exactly-once under replay because
    * overwrite-by-batch-id is the fold's only state). The sidecar's
    * measured shortlist point is NOT re-derived per fold (recall over
    * appended mass drifts only as fast as the corpus distribution —
    * re-measure at compaction cadence via [[writePqIndex]] if needed).
    */
  def appendToPqIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      batchId: Option[Long] = None): Unit = {
    import spark.implicits._
    val cb = readPqCodebook(spark, path)
    val bc = spark.sparkContext.broadcast(cb)
    val rows = batch
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, encodeJ(v, bc.value).map(c => (c & 0xFF).toByte))
      }
      .toDF("id", "codes")
    IndexDeltas.writeDelta(rows, path,
      batchId.getOrElse(IndexDeltas.nextAppendId(spark, path)),
      partitionCols = Nil)
  }

  /** Fold the live flat-PQ deltas into a fresh base generation —
    * served results unchanged; crash-safety: [[IndexDeltas.compact]].
    */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    IndexDeltas.compact(spark, path, partitionCols = Nil)

  /** Reload the codebook sidecar written by [[writePqIndex]]
    * (JSON numbers arrive as doubles; float→double→float is exact).
    */
  def readPqCodebook(spark: SparkSession, path: String): PqCodebook =
    codebookOf(SidecarIO.readParams(spark, s"$path.codebook"))

  private def codebookOf(side: Row) = PqCodebook(
    side.getAs[Long]("subDim").toInt,
    side.getAs[Seq[Seq[Seq[Double]]]]("centroids")
      .map(_.map(_.map(_.toFloat).toArray).toArray).toArray)

  /** ADC top-`k` against a persisted PQ index: codebook + packed codes
    * reload, byte codes widen back to ints, then the same broadcast-LUT
    * scan. Query dim is validated against the stored identity up front.
    */
  def adcTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val cb = readPqCodebook(spark, path)
    val qDim = queries.select(col(qVecCol).cast("array<float>"))
      .as[Array[Float]].head().length
    require(qDim == cb.dim,
      s"query dim $qDim != index dim ${cb.dim}")
    // packed codes land as BINARY; widen each byte back to [0,256).
    // Base plus appended deltas ([[appendToPqIndex]]).
    val codes = IndexDeltas.rows(spark, path)
      .select(col("id").cast("long"), col("codes"))
      .as[(Long, Array[Byte])]
      .map { case (id, bs) => (id, bs.map(b => b & 0xFF)) }
      .toDF("id", "codes")
    adcTopK(codes, "id", "codes", queries, qIdCol, qVecCol, cb, k)
  }

  /** Exact squared-L2 top-`k` (asc, ties → lowest id) — the truth side
    * of the recall measurement; same bounded-heap scan shape as
    * [[Similarity.bruteForceTopK]] with L2 in place of cosine.
    */
  private def exactL2TopK(corpus: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qRows)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
          case (d, id) => (d, id)
        }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue
            .empty[(Double, Long)](worstFirst))
        it.foreach { case (id, v) =>
          var qi = 0
          while (qi < qs.length) {
            val d = subDistJ(v, 0, qs(qi)._2)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((d, id))
            else {
              val (wd, wid) = h.head
              if (d < wd || (d == wd && id < wid)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d, id) => (qs(qi)._1, id, d) }
        }
      }.toDF("query_id", "id", "l2")
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2"), col("id"))
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "id", "l2", "rank")
  }

  /** Measured shortlist → recall@`k` curve for a PQ codebook over
    * `df`, in TWO bounded passes (the [[Similarity.ivfRecallCurve]]
    * discipline — measure, don't guess): `sampleN` deterministic
    * self-queries, exact L2 truth for them, then each truth neighbor's
    * ADC RANK — computed by ONE encoded-corpus scan that counts, per
    * (query, neighbor) pair, the rows beating the neighbor's ADC score
    * (sampleN × k bounded counters, merged by sum) — so recall at
    * shortlist R is simply the fraction of truth pairs with rank ≤ R.
    * Returns (R, recall) at doubling R values from `k` up to
    * `maxShortlist`.
    */
  def pqShortlistCurve(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebook, k: Int = 10, sampleN: Int = 100,
      maxShortlist: Int = 160): Seq[(Int, Double)] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(sampleN > 0, "sampleN must be positive")
    val queries = df
      .select(col(idCol).cast("long").as("qid"),
        col(vecCol).cast("array<float>").as("qv"))
      .filter(col("qv").isNotNull)
      .orderBy(graft.pipeline.Sampling.hashOrderKey(col("qid")),
        col("qid"))
      .limit(sampleN)
    val qMap = queries.as[(Long, Array[Float])].collect().toMap
    val truth = exactL2TopK(df, idCol, vecCol, queries, "qid", "qv", k)
      .select(col("query_id"), col("id")).as[(Long, Long)].collect()
    require(truth.nonEmpty, "empty recall sample — corpus has no vectors")
    val enc = encodeDf(df, idCol, vecCol, cb)
      .select(col("id"), col("codes").cast("array<int>"))
      .as[(Long, Array[Int])]
    // neighbor codes: a broadcast semi-join sliver (sampleN x k rows)
    val truthIds = truth.map(_._2).distinct.toSet
    val bcTruthIds = spark.sparkContext.broadcast(truthIds)
    val codeMap = enc.filter(r => bcTruthIds.value.contains(r._1))
      .collect().toMap
    val luts = qMap.map { case (qid, qv) => qid -> lutJ(qv, cb) }
    // pair -> (lut, neighbor id, neighbor adc)
    val pairs = truth.map { case (qid, nid) =>
      (luts(qid), nid, adcJ(codeMap(nid), luts(qid)))
    }
    val bcPairs = spark.sparkContext.broadcast(pairs)
    val beat = enc.mapPartitions { it =>
      val ps = bcPairs.value
      val cnt = new Array[Long](ps.length)
      it.foreach { case (id, cs) =>
        var p = 0
        while (p < ps.length) {
          val (lut, nid, nd) = ps(p)
          val d = adcJ(cs, lut)
          if (d < nd || (d == nd && id < nid)) cnt(p) += 1
          p += 1
        }
      }
      Iterator.single(cnt)
    }.reduce { (a, b) =>
      val out = new Array[Long](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
      out
    }
    val ranks = beat.map(_ + 1) // strictly-better count + self
    Iterator.iterate(k)(_ * 2).takeWhile(_ < maxShortlist).toSeq
      .appended(maxShortlist).distinct
      .map(r => r -> ranks.count(_ <= r).toDouble / ranks.length)
  }

  /** The smallest shortlist whose measured recall meets `target` (the
    * curve's last point when none does).
    */
  def derivePqShortlist(curve: Seq[(Int, Double)],
      target: Double = 0.95): (Int, Double) =
    curve.find(_._2 >= target).getOrElse(curve.last)

  /** ADC shortlist + EXACT rerank — the standard PQ recall-recovery
    * stage: the cheap code scan nominates `shortlist` candidates per
    * query, then exact squared-L2 on raw vectors re-ranks only those
    * (queries × shortlist rows — a broadcast-able sliver, so the
    * expensive metric never touches the corpus at large). Ties:
    * lowest l2, then lowest id. On integer-valued inputs the exact
    * stage is engine-replayable like the ADC stage.
    */
  def pqRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      cb: PqCodebook, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val nominated = pqTopK(corpus, idCol, vecCol, queries, qIdCol,
        qVecCol, cb, shortlist)
      .select(col("query_id"), col("id"))
    val qv = queries.select(col(qIdCol).cast("long").as("query_id"),
      col(qVecCol).cast("array<float>").as("_qv"))
    val cand = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("_v"))
      .join(broadcast(nominated), "id")
      .join(broadcast(qv), "query_id")
    val l2 = aggregate(
      zip_with(col("_v"), col("_qv"),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2"), col("id"))
    // a NULL/dim-mismatched corpus vector yields NULL l2 (zip_with pads
    // with null) — exclude it rather than let nulls-first ascending rank
    // a malformed row ahead of every genuine neighbor
    cand.select(col("query_id"), col("id"), l2.as("l2"))
      .filter(col("l2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "id", "l2", "rank")
  }

  // --------------------------------------------------------------- IVF-PQ
  // The composed 100 TB ANN layout: a COARSE quantizer routes each
  // vector to a cell (one parquet partition per cell — a query reads
  // only its probed cells via partition pruning) and PQ codes stand in
  // for the floats inside each cell (the 32× byte cut) — pruning ×
  // compression. Two encodings, both pinned:
  //  - `residuals = false`: codes over RAW vectors — a cell's codes and
  //    a flat PQ index's codes agree bit-for-bit and the same codebook
  //    serves both (the cross-index oracle property).
  //  - `residuals = true`: the full FAISS IVFADC shape (Jégou et al.
  //    2011) — each vector encodes `v − coarse(cell(v))`, and a query's
  //    ADC LUT is built against the residual space of EACH probed cell
  //    (`q − coarse(cell)`, one LUT per (query, probed cell)). The
  //    codebook then only has to span the within-cell spread instead of
  //    the whole space, which is what makes IVFADC's recall/byte
  //    competitive; ProductQuantSpec measures residual ≥ raw recall on
  //    the trained fixture.

  /** L2-argmin cell for one vector (ties → lowest cell id) — PQ world
    * routes by the metric ADC approximates, unlike the cosine routing
    * of [[Similarity.ivfAssignDf]].
    */
  private[pipeline] def nearestCellL2(v: Array[Float],
      coarse: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < coarse.length) {
      val d = subDistJ(v, 0, coarse(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** `nProbe` nearest cells by L2 (asc, ties → lowest cell id). */
  private[pipeline] def probeCellsL2(v: Array[Float],
      coarse: Array[Array[Float]], nProbe: Int): Array[Int] =
    coarse.indices
      .sortBy(c => (subDistJ(v, 0, coarse(c)), c))
      .take(nProbe).toArray

  /** Deterministic INTEGER-VALUED coarse centroids for bit-level
    * oracle replay of the ROUTING too: component `j` of cell `c` is
    * `(((c*11 + j*3) mod 16) - 8) * 24` — same exactness argument as
    * [[plantedCodebook]].
    */
  def plantedCoarse(numCells: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(numCells)(c => Array.tabulate(dim)(j =>
      ((((c * 11 + j * 3) % 16) - 8) * 24).toFloat))

  /** `v − c` elementwise in float (exact for the integer-valued oracle
    * inputs; the engine-replay argument of the class doc).
    */
  private[pipeline] def residualJ(v: Array[Float],
      c: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var j = 0
    while (j < v.length) { out(j) = v(j) - c(j); j += 1 }
    out
  }

  /** Persist the IVF-PQ index: one broadcast map assigns cells and
    * encodes codes (`residuals = true` encodes `v − coarse(cell)`,
    * see the section doc), rows land `partitionBy("cid")` (probed-cell
    * reads touch only their directories), and one self-describing
    * sidecar carries coarse + codebook + encoding + identity.
    */
  /** Route + encode a frame with GIVEN index parameters — the one
    * encode map both the full build and the incremental append run:
    * `(id, packed byte codes, cid)`.
    */
  private def encodedRows(df: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Float]], cb: PqCodebook,
      residuals: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcCb = spark.sparkContext.broadcast(cb)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cid = nearestCellL2(v, bcCoarse.value)
        val enc =
          if (residuals) residualJ(v, bcCoarse.value(cid)) else v
        (id, encodeJ(enc, bcCb.value).map(c => (c & 0xFF).toByte), cid)
      }
      .toDF("id", "codes", "cid")
  }

  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Float]], cb: PqCodebook,
      path: String, residuals: Boolean = false): Unit = {
    require(cb.codesPerSubspace <= 256,
      "one-byte packing requires <= 256 codes per subspace")
    require(coarse.nonEmpty && coarse.forall(_.length == cb.dim),
      "coarse centroids must match the codebook dim")
    val spark = df.sparkSession
    // a REBUILD replaces the whole index: stale append deltas from a
    // previous build at this path must not survive into the new one
    IndexDeltas.clearDeltas(spark, path)
    encodedRows(df, idCol, vecCol, coarse, cb, residuals)
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    SidecarIO.writeParams(spark, s"$path.meta", "coarse" -> coarse,
      "centroids" -> cb.centroids, "subDim" -> cb.subDim,
      "numSubspaces" -> cb.numSubspaces,
      "codesPerSubspace" -> cb.codesPerSubspace, "dim" -> cb.dim,
      "numCells" -> coarse.length, "metric" -> "l2",
      "residuals" -> residuals)
  }

  /** Fold a batch of NEW vectors into a persisted IVF-PQ index at
    * batch cost — the daily-ingest path (no full re-encode): the batch
    * is routed + encoded with the STORED sidecar (coarse, codebook,
    * residual flag — so appended codes are bit-identical to a full
    * rebuild's), and lands in its own cid-partitioned DELTA directory
    * `<path>.delta/batch=<id>` which readers union with the base.
    *
    * Exactly-once under at-least-once replay BY CONSTRUCTION: the
    * delta directory is the ONLY state this fold touches and a
    * replayed `batchId` OVERWRITES its own directory — nothing is
    * additive, so no replay guard is needed (simpler than
    * [[Search.updateIndex]], whose df sidecar merges additively).
    * Without an explicit `batchId` (one-shot folds) the next free
    * delta id is used.
    *
    * Contract (the incremental-index discipline shared with the BM25
    * fold): batches carry ids not already indexed — removals route
    * through the tombstone machinery, not here. Query-time dim
    * mismatches still fail per-row in the encode kernel.
    */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      batchId: Option[Long] = None): Unit = {
    val (coarse, cb, residuals) = readIvfPqSidecar(spark, path)
    IndexDeltas.writeDelta(
      encodedRows(batch, idCol, vecCol, coarse, cb, residuals),
      path, batchId.getOrElse(IndexDeltas.nextAppendId(spark, path)),
      partitionCols = Seq("cid"))
  }

  /** The stored rows of an IVF-PQ index: base build plus any appended
    * delta batches past the compaction floor ([[IndexDeltas.rows]]).
    * `cid` is a PARTITION column in both layouts, so a probed-cell
    * `isin` filter prunes directories on both sides of the union —
    * append never weakens the pruning story.
    */
  private def ivfPqRows(spark: SparkSession, path: String): DataFrame =
    IndexDeltas.rows(spark, path)
      .select(col("id").cast("long"), col("codes"),
        col("cid").cast("int"))

  /** Fold the live deltas into a fresh base generation — the file-count
    * hygiene step of the daily-append lifecycle (a year of daily folds
    * is 365 delta directories of small files; compaction restores the
    * one-dir-per-cell layout without changing a single served result).
    * Crash-safety: [[IndexDeltas.compact]].
    */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    IndexDeltas.compact(spark, path, partitionCols = Seq("cid"))

  /** Reload (coarse, codebook, residuals) written by
    * [[writeIvfPqIndex]] (pre-residual sidecars read as `false`).
    */
  def readIvfPqSidecar(spark: SparkSession, path: String)
      : (Array[Array[Float]], PqCodebook, Boolean) = {
    val meta = SidecarIO.readParams(spark, s"$path.meta")
    (meta.getAs[Seq[Seq[Double]]]("coarse").map(_.map(_.toFloat).toArray)
        .toArray, codebookOf(meta),
      SidecarIO.param[Boolean](meta, "residuals").contains(true))
  }

  /** ADC top-`k` against a persisted IVF-PQ index: each query probes
    * its `nProbe` L2-nearest cells, the scan filters `cid isin (union
    * of probed cells)` BEFORE any row is read (partition pruning), and
    * a row is scored only against the queries probing ITS cell —
    * candidate volume ≈ |corpus| × nProbe / numCells per query, each
    * candidate costing `numSubspaces` LUT adds. Ties: lowest adc, then
    * lowest id.
    */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    import spark.implicits._
    val (coarse, cb, residuals) = readIvfPqSidecar(spark, path)
    // per query: probe set + one LUT PER PROBED CELL (residual space
    // shifts with the cell; the raw encoding shares one LUT across
    // cells). LUT volume stays queries × nProbe × subspaces × codes
    // doubles — broadcast-sized. Null query vectors probe nothing.
    val qRows: Array[(Long, Array[Int], Array[Array[Array[Double]]])] =
      queries
        .select(col(qIdCol).cast("long"),
          col(qVecCol).cast("array<float>"))
        .filter(col(qVecCol).isNotNull)
        .as[(Long, Array[Float])].collect()
        .map { case (qid, qv) =>
          require(qv.length == cb.dim,
            s"query dim ${qv.length} != index dim ${cb.dim}")
          val probes = probeCellsL2(qv, coarse, nProbe)
          val luts =
            if (residuals)
              probes.map(c => lutJ(residualJ(qv, coarse(c)), cb))
            else {
              val shared = lutJ(qv, cb)
              probes.map(_ => shared)
            }
          (qid, probes, luts)
        }
    val probed = qRows.flatMap(_._2).distinct.toSeq
    val bc = spark.sparkContext.broadcast(qRows)
    val pruned = ivfPqRows(spark, path) // base + appended deltas
      .filter(if (probed.isEmpty) lit(false)
        else col("cid").isin(probed: _*)) // partition pruning
      .as[(Long, Array[Byte], Int)]
    val partial = pruned.mapPartitions { it =>
      val qs = bc.value
      // cid -> LUT index, one map per query (probe sets are tiny)
      val lutIdx = qs.map(_._2.zipWithIndex.toMap)
      val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
        case (d, id) => (d, id)
      }
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue
          .empty[(Double, Long)](worstFirst))
      it.foreach { case (id, bs, cid) =>
        var qi = 0
        while (qi < qs.length) {
          val li = lutIdx(qi).getOrElse(cid, -1)
          if (li >= 0) {
            val lut = qs(qi)._3(li)
            var acc = 0.0
            var s = 0
            while (s < bs.length) {
              acc += lut(s)(bs(s) & 0xFF); s += 1
            }
            val h = heaps(qi)
            if (h.size < k) h.enqueue((acc, id))
            else {
              val (wd, wid) = h.head
              if (acc < wd || (acc == wd && id < wid)) {
                h.dequeue(); h.enqueue((acc, id))
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (d, id) => (qs(qi)._1, id, d) }
      }
    }.toDF("query_id", "id", "adc")
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("id"))
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "id", "adc", "rank")
  }

  /** ADC shortlist FROM A PERSISTED IVF-PQ INDEX + exact rerank — the
    * IVFADC+R serving path (Jégou et al. 2011's refinement stage over
    * the composed index; [[pqRerankTopK]] is the flat-index sibling
    * that re-encodes the corpus per call): the partition-pruned cell
    * scan nominates `shortlist` candidates per query
    * ([[ivfPqTopKFromIndex]] — residual or raw encoding per the
    * sidecar), then exact squared-L2 on RAW vectors re-ranks only the
    * queries × shortlist sliver (broadcast joins — the exact metric
    * never touches the corpus at large, and the corpus frame is read
    * ONLY for the nominated ids). Ties: lowest l2, then lowest id. On
    * integer-valued inputs both stages replay in any engine.
    */
  def ivfPqRerankTopK(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, shortlist: Int, nProbe: Int = 1): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val nominated = ivfPqTopKFromIndex(spark, path, queries, qIdCol,
        qVecCol, k = shortlist, nProbe = nProbe)
      .select(col("query_id"), col("id"))
    val qv = queries.select(col(qIdCol).cast("long").as("query_id"),
      col(qVecCol).cast("array<float>").as("_qv"))
    val cand = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("_v"))
      .join(broadcast(nominated), "id")
      .join(broadcast(qv), "query_id")
    val l2 = aggregate(
      zip_with(col("_v"), col("_qv"),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2"), col("id"))
    // same malformed-row exclusion as [[pqRerankTopK]]
    cand.select(col("query_id"), col("id"), l2.as("l2"))
      .filter(col("l2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "id", "l2", "rank")
  }
}
