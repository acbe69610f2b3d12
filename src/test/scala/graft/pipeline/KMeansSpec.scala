package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.VectorExpressions

/** Distributed fixed-point k-means: kernel exactness, Lloyd mechanics,
  * the defined null/empty-cluster semantics, the cluster-diverse
  * sample, and the map-only assignment plan shape.
  */
class KMeansSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("LongDotProduct: exact long math, shorter length wins, null-safe") {
    val df = Seq(
      (Seq(1L, -2L, 3L), Seq(4L, 5L, -6L)),       // 4 -10 -18 = -24
      (Seq(1000000L, 1000000L), Seq(1000000L, 0L)), // 1e12
      (Seq(7L, 8L, 9L), Seq(2L)),                   // 14
      (Seq.empty[Long], Seq(1L, 2L))                // 0
    ).toDF("a", "b")
    val out = df.select(
      VectorExpressions.dotLongC(col("a"), col("b")).as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(-24L, 1000000000000L, 14L, 0L))
    val n = Seq((Option.empty[Seq[Long]], Seq(1L))).toDF("a", "b")
      .select(VectorExpressions.dotLongC(col("a"), col("b")).as("d"))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("quantize: floor(x*scale + 0.5), negatives floor away correctly") {
    val df = Seq(Seq(0.5f, -0.5f, 0.0f, 0.250004f)).toDF("v")
    val q = df.select(KMeans.quantize(col("v")).as("q"))
      .collect()(0).getSeq[Long](0)
    // 0.5*65536+0.5 = 32768.5 -> 32768 ; -0.5 -> floor(-32767.5) = -32768
    assert(q(0) == 32768L && q(1) == -32768L && q(2) == 0L)
    // 0.250004f*65536 ~ 16384.26 -> 16384
    assert(q(3) == 16384L)
  }

  /** Three tight planted groups far apart in direction space. Group
    * membership follows the md5 hash order of the ids, so the
    * deterministic hash-order init is GUARANTEED one seed per group
    * (ids ranked 0,1,2 by md5 belong to groups 0,1,2) — the test pins
    * Lloyd's refinement, not init luck.
    */
  private def groupOf: Map[Long, Int] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0L until 18L).sortBy(i => md5hex(i.toString))
      .zipWithIndex.map { case (id, pos) => id -> (pos % 3) }.toMap
  }

  private def plantedGroups = {
    val bases = Seq(
      { val a = Array.fill(8)(0f); a(0) = 1f; a },
      { val a = Array.fill(8)(0f); a(3) = 1f; a },
      { val a = Array.fill(8)(0f); a(5) = -1f; a })
    val g = groupOf
    val rows = (0L until 18L).map { i =>
      val a = bases(g(i)).clone(); a(7) = a(7) + i.toFloat * 1e-3f
      (i, a.toSeq)
    }
    rows.toDF("id", "vec")
  }

  test("train recovers well-separated planted groups exactly") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 3)
    val assigned = KMeans.assign(df, "vec", model)
      .select("id", "cid").as[(Long, Int)].collect().toMap
    val g = groupOf
    val groups = (0 until 3).map(gi =>
      (0L until 18L).filter(i => g(i) == gi).map(assigned).toSet)
    groups.foreach(gr => assert(gr.size == 1, s"split group: $groups"))
    assert(groups.flatten.toSet.size == 3, s"merged groups: $groups")
  }

  test("training is deterministic: same data, same centroids") {
    val df = plantedGroups
    val a = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    val b = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("k > distinct directions: empty clusters keep previous centroid") {
    val one = Array.fill(4)(0.25f).toSeq
    val df = (0L until 5L).map(i => (i, one)).toDF("id", "vec")
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    assert(model.k == 3)
    // all rows land in one cluster; the others survived as init copies
    val cids = KMeans.assign(df, "vec", model)
      .select("cid").as[Int].collect().toSet
    assert(cids.size == 1)
  }

  test("null vector: cid null, excluded from centroid updates") {
    val rows = Seq((0L, Some(Seq(1f, 0f))), (1L, Some(Seq(1f, 0f))),
      (2L, Option.empty[Seq[Float]]))
    val df = rows.toDF("id", "vec")
    val model = KMeans.train(df, "id", "vec", k = 1, iters = 2)
    val out = KMeans.assign(df, "vec", model)
      .select("id", "cid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getInt(1)))).toMap
    assert(out(0L).contains(0) && out(1L).contains(0) && out(2L).isEmpty)
    // centroid = quantized (1,0) exactly (null row did not dilute it)
    assert(model.centroids(0).toSeq == Seq(65536L, 0L))
  }

  test("diverseSample: equals the naive per-cluster window, bounded size") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    val assigned = KMeans.assign(df, "vec", model)
    val got = KMeans.diverseSample(assigned, "id", perCluster = 2)
      .select("id", "cid").as[(Long, Int)].collect().toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cid"))
      .orderBy(md5(col("id").cast("string")), col("id"))
    val naive = assigned.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).select("id", "cid")
      .as[(Long, Int)].collect().toSet
    assert(got == naive)
    assert(got.size == 6)
    assert(got.groupBy(_._2).forall(_._2.size == 2))
  }

  test("assignment is map-only: no exchange in the plan") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 1)
    val plan = KMeans.assign(df, "vec", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("large models ride a codegen reference: literal/reference " +
      "bit-parity, plan stays small, still map-only") {
    // k=48 x dim=96 = 4608 components > literalComponentCap(4096):
    // deterministic planted matrix, no training needed
    val k = 48
    val dim = 96
    assert(k.toLong * dim > KMeans.literalComponentCap)
    val cents = Array.tabulate(k, dim)((c, p) =>
      ((c * 31L + p * 7L) % 997L) - 498L)
    cents(5) = new Array[Long](dim) // one all-zero centroid (−∞ rule)
    val df = spark.range(0, 200).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        p => sin(col("id") * (p + lit(1))).cast("float")).as("vec"))
    val vq = KMeans.quantize(col("vec"))
    val (cidL, scoreL) = KMeans.assignmentColumnsLiteral(vq, cents)
    val (cidR, scoreR) = KMeans.assignmentColumnsRef(vq, cents)
    val both = df.select(col("id"), cidL.as("cl"), scoreL.as("sl"),
      cidR.as("cr"), scoreR.as("sr"))
    assert(both.filter(col("cl") =!= col("cr") ||
      col("sl") =!= col("sr")).count() == 0,
      "literal and reference assignment paths diverge")
    // scores spread across clusters (the parity is not vacuous)
    assert(both.select(countDistinct("cr")).head().getLong(0) > 5)

    // the dispatching public path picks the reference spelling: the
    // plan must stay small and map-only (a 4608-literal plan is ~10x
    // this bound)
    val model = KMeans.Model(cents, KMeans.defaultScale)
    val plan = KMeans.assign(df, "vec", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.length < 100000, s"plan blew up: ${plan.length} chars")
  }

  test("double-typed embedding column: training assigns on full " +
      "precision (no float round-trip)") {
    // a double just below a quantization boundary whose nearest FLOAT
    // sits exactly ON it: x = 3276.5/65536 − 2^−30 (both terms exact
    // in double). Double quantize: x·65536 = 3276.49994 → floor(+0.5)
    // = 3276. Float round-trip: 2^−30 is under half a float ulp at
    // this magnitude, so x.toFloat == 3276.5/65536 exactly → 3277.
    val tricky = 3276.5 / 65536.0 - math.pow(2.0, -30)
    val viaFloat =
      math.floor(tricky.toFloat.toDouble * 65536.0 + 0.5).toLong
    assert(viaFloat == 3277L, "fixture lost its float divergence")
    val rows = Seq((0L, Seq(tricky, 1.0)), (1L, Seq(tricky, 1.0)))
    val df = rows.toDF("id", "vec") // array<double> column
    val model = KMeans.train(df, "id", "vec", k = 1, iters = 2)
    // centroid must equal the DOUBLE quantization of the input,
    // bit-for-bit with the Column quantize path assignment will use
    val viaColumn = df.select(KMeans.quantize(col("vec")).as("q"))
      .head().getSeq[Long](0)
    assert(viaColumn(0) == 3276L)
    assert(model.centroids(0).toSeq == viaColumn,
      s"train saw ${model.centroids(0).toSeq}, assign sees $viaColumn" +
        s" (a float32 round-trip would have trained $viaFloat)")
  }

  test("model sidecar round-trip: centroids and scale exact") {
    val model = KMeans.train(plantedGroups, "id", "vec", k = 3, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("kmeans_model").toString
    KMeans.writeModel(spark, model, path)
    val back = KMeans.readModel(spark, path)
    assert(back.scale == model.scale)
    assert(back.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
  }

  test("kmeansAssignStream: union of batches equals one-shot assignment") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    val modelPath = java.nio.file.Files
      .createTempDirectory("kmeans_model_s").toString
    KMeans.writeModel(spark, model, modelPath)
    val inDir = java.nio.file.Files
      .createTempDirectory("kmeans_in").toString
    df.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val outDir = java.nio.file.Files
      .createTempDirectory("kmeans_out").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("kmeans_ckpt").toString
    val q = graft.streaming.StreamOps.probeStream(stream,
        KMeans.readModel(_, modelPath)) { (m, batch, _) =>
      KMeans.assign(batch, "vec", m)
    } { (res, _) =>
      res.select("id", "cid").write.mode("append").parquet(outDir)
    }.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .as[(Long, Int)].collect().toSet
    val oneShot = KMeans.assign(df, "vec", model)
      .select("id", "cid").as[(Long, Int)].collect().toSet
    assert(streamed == oneShot)
  }

  test("assignAgainstSidecar: bit-parity with the literal-centroid path") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("kmeans_sidecar").toString
    KMeans.writeModel(spark, model, path)
    val cents = spark.read.parquet(path + "/centroids")
    val viaJoin = KMeans.assignAgainstSidecar(df, "vec", cents)
      .select("id", "cid").as[(Long, Int)].collect().toSet
    val viaLiteral = KMeans.assign(df, "vec", model)
      .select("id", "cid").as[(Long, Int)].collect().toSet
    assert(viaJoin == viaLiteral)
    // null vector stays null on the join path too
    val withNull = Seq((99L, Option.empty[Seq[Float]])).toDF("id", "vec")
    val r = KMeans.assignAgainstSidecar(withNull, "vec", cents)
      .select("cid").collect()(0)
    assert(r.isNullAt(0))
  }

  test("outliers: a stray direction falls out, members and zeros do not") {
    val df = plantedGroups
    val model = KMeans.train(df, "id", "vec", k = 3, iters = 2)
    val stray = { val a = Array.fill(8)(0f); a(6) = 1f; a }
    val zero = Array.fill(8)(0f)
    val probe = df.union(Seq((100L, stray.toSeq), (101L, zero.toSeq))
      .toDF("id", "vec"))
    val out = KMeans.outliers(probe, "vec", model, minScore = 0.5)
      .select("id").as[Long].collect().toSet
    assert(out == Set(100L), out.toString)
    val scored = KMeans.assignWithScore(probe, "vec", model)
    val zeroRow = scored.filter(col("id") === 101L).collect()(0)
    assert(zeroRow.isNullAt(zeroRow.fieldIndex("score")))
    // members sit near cosine 1
    val memberMin = scored.filter(col("id") < 18L)
      .agg(min("score")).collect()(0).getDouble(0)
    assert(memberMin > 0.9, memberMin.toString)
  }

  test("testdata embeddings: full pipeline clusters every row") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = KMeans.train(e, "vec_id", "embedding", k = 5, iters = 2)
    val assigned = KMeans.assign(e, "embedding", model)
    assert(assigned.filter(col("cid").isNull).count() == 0)
    val sizes = KMeans.clusterSizes(assigned)
      .select("size").as[Long].collect()
    assert(sizes.sum == e.count())
    assert(sizes.count(_ > 0) >= 2, s"degenerate clustering: ${sizes.toSeq}")
  }
}
