package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QualityModelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import QualityModel.LinearModel

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")

  test("logitQ: hand-computed on fixed rows") {
    // "ab cd" — tokens=2, len=5, alpha=4, digit=0, spaces=1
    //   f = [2/100, 4/5, 0/5, (4/2)/12]
    // "12345" — tokens=1, len=5, alpha=0, digit=5, spaces=0
    //   f = [1/100, 0, 1, (5/1)/12]
    val m = LinearModel(-1.5, 2.0, 2.5, -4.0, 0.5)
    def z(f: Seq[Double]) =
      -1.5 + 2.0 * f(0) + 2.5 * f(1) + -4.0 * f(2) + 0.5 * f(3)
    val expect = Seq(
      math.floor(z(Seq(0.02, 0.8, 0.0, 2.0 / 12.0)) * 1e6).toLong,
      math.floor(z(Seq(0.01, 0.0, 1.0, 5.0 / 12.0)) * 1e6).toLong)
    val got = Seq("ab cd", "12345").toDF("text")
      .select(QualityModel.logitQ($"text", m).as("q"))
      .as[Long].collect().toSeq
    assert(got == expect)
  }

  test("score/filterByModel: quantized threshold is the decision") {
    val scored = QualityModel.score(docs, "text",
      QualityModel.default, threshold = 0.0)
    val byHand = scored
      .filter(($"logit_q" >= 0L) =!= $"keep").count()
    assert(byHand == 0)
    val kept = QualityModel.filterByModel(docs, "text",
      QualityModel.default, 0.0)
    assert(kept.count() ==
      scored.filter($"keep").count())
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
  }

  test("probability is monotone in logit_q (presentation-only sigmoid)") {
    val rows = QualityModel.score(docs, "text")
      .withColumn("p", QualityModel.probability($"text",
        QualityModel.default))
      .select($"logit_q", $"p").as[(Long, Double)].collect()
      .sortBy(_._1)
    rows.sliding(2).foreach { case Array((_, p1), (_, p2)) =>
      assert(p1 <= p2 + 1e-12)
    case _ => ()
    }
  }

  test("train: separates a plantedly-separable corpus") {
    // label 1 = alphabetic prose, label 0 = digit soup: separable on
    // the alpha/digit ratio features alone
    val pos = (1 to 60).map(i =>
      (s"the quick brown fox jumps over lazy dog number $i words", 1))
    val neg = (1 to 60).map(i =>
      (s"94 283 ${i * 7} 7723 001 44 5 ${i} 99182 3 77", 0))
    val df = (pos ++ neg).toDF("text", "label")
    val m = QualityModel.train(df, "text", "label", iters = 80, lr = 2.0)
    val acc = QualityModel.score(df, "text", m)
      .withColumn("hit", ($"keep" === ($"label" === 1)).cast("int"))
      .agg(avg($"hit")).head().getDouble(0)
    assert(acc >= 0.95, s"train accuracy $acc on a separable corpus")
    // digit-heavy text must be penalized relative to prose
    assert(m.wDigit < m.wAlpha,
      s"expected digit weight ${m.wDigit} below alpha weight ${m.wAlpha}")
  }

  test("model sidecar: write/read round-trip, crash-safe swap") {
    val dir = java.nio.file.Files
      .createTempDirectory("qm_model").toString + "/model"
    val m = LinearModel(0.25, -1.0, 3.5, -2.25, 0.125)
    QualityModel.writeModel(spark, dir, m)
    assert(QualityModel.readModel(spark, dir) == m)
    val m2 = LinearModel(1.0, 2.0, 3.0, 4.0, 5.0)
    QualityModel.writeModel(spark, dir, m2) // overwrite path
    assert(QualityModel.readModel(spark, dir) == m2)
    // a swap that crashed between its renames left only `_prev`
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_prev")))
    assert(QualityModel.readModel(spark, dir) == m2)
  }
}
