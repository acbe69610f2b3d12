package graft.pipeline

import graft.SparkTestBase
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The params codec ([[SidecarIO.writeParams]], [[SidecarIO.readParams]]):
  * no Spark job on either side, and one layout with `spark.read.json` in
  * both directions — a Spark-written params dir reads to the row Spark's
  * inference reads, and a codec-written one reads back through Spark.
  */
class SidecarParamsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString + "/params"

  // every value shape a sidecar stores: integral, fractional (whole and
  // not), string, boolean, float matrices and cubes
  private val centroids = Array(Array(0.1f, -2.5f, 3.0f), Array(1e-3f, 7f, 0f))
  private val fields: Seq[(String, Any)] = Seq("depth" -> 4,
    "n_docs" -> 12345678901L, "fpp" -> 1.0, "avgdl" -> 4.25,
    "key_col" -> "tok", "quantized" -> true, "centroids" -> centroids,
    "cube" -> Array(centroids, centroids))

  test("writeParams and readParams run no Spark job") {
    val dir = tmp("params_jobs")
    val (_, writeJobs) = graft.JobCount.of(spark)(
      SidecarIO.writeParams(spark, dir, fields: _*))
    assert(writeJobs == 0, s"writeParams ran $writeJobs jobs")
    val (row, readJobs) = graft.JobCount.of(spark)(
      SidecarIO.readParams(spark, dir))
    assert(readJobs == 0, s"readParams ran $readJobs jobs")
    assert(row.getAs[Long]("depth") == 4L)
    assert(row.getAs[Double]("fpp") == 1.0)
    assert(row.getAs[Seq[Seq[Double]]]("centroids")
      .map(_.map(_.toFloat)) == centroids.map(_.toSeq).toSeq)
  }

  test("a codec-written row reads the same through spark.read.json") {
    val dir = tmp("params_codec")
    SidecarIO.writeParams(spark, dir, fields: _*)
    val viaSpark = spark.read.json(dir)
    val row = SidecarIO.readParams(spark, dir)
    assert(row.schema == viaSpark.schema)
    assert(row == viaSpark.head())
  }

  test("a Spark-written params dir (with _SUCCESS and .crc files) reads " +
      "to the row Spark's inference reads") {
    val dir = tmp("params_spark")
    Seq((4, 12345678901L, 1.0, 4.25, "tok", true,
        centroids.map(_.toSeq).toSeq,
        Seq(centroids, centroids).map(_.map(_.toSeq).toSeq)))
      .toDF("depth", "n_docs", "fpp", "avgdl", "key_col", "quantized",
        "centroids", "cube")
      .coalesce(1).write.json(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.toString)
    val viaSpark = spark.read.json(dir)
    val row = SidecarIO.readParams(spark, dir)
    assert(row.schema == viaSpark.schema)
    assert(row == viaSpark.head())
    // and a rewrite through the codec is the same row again
    SidecarIO.writeParams(spark, dir, fields: _*)
    assert(SidecarIO.readParams(spark, dir) == row)
  }

  test("a field missing from the row is missing from the schema; an " +
      "integral and fractional array types as doubles") {
    val dir = tmp("params_legacy")
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, "part-00000.json"),
      "\n" + """{"blocks":8,"mixed":[1,2.5]}""" + "\n")
    val row = SidecarIO.readParams(spark, dir)
    assert(row.schema == spark.read.json(dir).schema)
    assert(!row.schema.fieldNames.contains("words"))
    assert(row.getAs[Seq[Double]]("mixed") == Seq(1.0, 2.5))
  }

  test("an empty or missing params dir fails naming the path") {
    val dir = tmp("params_empty")
    val missing = intercept[java.io.IOException](
      SidecarIO.readParams(spark, dir))
    assert(missing.getMessage.contains(dir), missing.getMessage)
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, "_SUCCESS"), "")
    val empty = intercept[RuntimeException](SidecarIO.readParams(spark, dir))
    assert(empty.getMessage.contains(dir), empty.getMessage)
  }
}
