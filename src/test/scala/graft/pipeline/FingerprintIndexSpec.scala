package graft.pipeline

import graft.SparkTestBase
import graft.pipeline.Multimodal.Fingerprint
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The persisted fingerprint index shared by every media family: its
  * job budgets, the refusal of a handle of another width or
  * fingerprint, and loading the params layout older builds wrote.
  */
class FingerprintIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def gridBlobs(grid: Int, ids: Seq[Long]): DataFrame =
    ids.map { id =>
      (id, Multimodal.encodeCellImage(grid, grid, 2,
        Array.tabulate(grid * grid)(c => ((id * 7 + c * 11) % 256).toInt),
        if (id % 2 == 0) "png" else "bmp"))
    }.toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))

  private def wavBlobs(ids: Seq[Long]): DataFrame =
    ids.map { id =>
      (id, Multimodal.encodeWindowWav(25,
        Array.tabulate(64)(w => ((id * 13 + w * 29) % 1024).toInt * 2)))
    }.toDF("doc_id", "wav")
      .select($"doc_id", Multimodal.asBlob($"wav", "unknown").as("blob"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  private def pairs(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .toSet

  test("index write runs 1 Spark job and a handle load none, at both " +
      "widths") {
    for ((fp, grid) <- Seq(Fingerprint.image64 -> 8,
        Fingerprint.imageWide -> 16)) {
      val path = tmp("graft_fpjobs")
      val (_, writeJobs) = graft.JobCount.of(spark)(Multimodal.writeIndex(
        gridBlobs(grid, 0L until 40L), "doc_id", "blob", fp, path))
      // the fingerprint parquet; the params row is written on the
      // driver and nothing re-reads
      assert(writeJobs == 1, s"${fp.name} index write ran $writeJobs jobs")
      val (ix, loadJobs) = graft.JobCount.of(spark)(
        Multimodal.loadIndex(spark, path, fp))
      // the params row and the fingerprint schema (a footer) are driver
      // reads
      assert(loadJobs == 0, s"${fp.name} handle load ran $loadJobs jobs")
      assert(ix.corpus.count() == 40)
    }
  }

  test("a handle of another width is refused, naming both sides") {
    val path = tmp("graft_fpwidth")
    Multimodal.writeIndex(gridBlobs(16, 0L until 20L), "doc_id", "blob",
      Fingerprint.imageWide, path)
    val err = intercept[IllegalArgumentException] {
      Multimodal.loadIndex(spark, path, Fingerprint.image64)
    }
    assert(err.getMessage.contains("4-word imageWide"), err.getMessage)
    assert(err.getMessage.contains("1-word image64"), err.getMessage)
  }

  test("a handle of another fingerprint is refused, naming both sides") {
    val path = tmp("graft_fpname")
    Multimodal.writeIndex(wavBlobs(1L to 20L), "doc_id", "blob",
      Fingerprint.audio64, path)
    val err = intercept[IllegalArgumentException] {
      Multimodal.loadIndex(spark, path, Fingerprint.image64)
    }
    assert(err.getMessage.contains("1-word audio64"), err.getMessage)
    assert(err.getMessage.contains("1-word image64"), err.getMessage)
  }

  test("an index with the older params layout (no words, no name) " +
      "loads and probes the same as a new one") {
    val corpus = gridBlobs(8, 0L until 60L)
    // copies of every 10th corpus image under two new ids: batch-vs-
    // corpus and batch-internal pairs at Hamming 0
    val copies = gridBlobs(8, 0L until 60L by 10)
    val batch = Seq(50000, 60000).map(d => copies.select(
      ($"doc_id" + d).as("doc_id"), $"blob")).reduce(_ union _)
    val fresh = tmp("graft_fpnew")
    Multimodal.writeIndex(corpus, "doc_id", "blob", Fingerprint.image64,
      fresh)
    val old = tmp("graft_fpold")
    Multimodal.fingerprints(corpus, "doc_id", "blob", Fingerprint.image64)
      .write.parquet(s"$old/fingerprints")
    val paramsDir = java.nio.file.Paths.get(s"$old/params")
    java.nio.file.Files.createDirectories(paramsDir)
    java.nio.file.Files.writeString(paramsDir.resolve("part-00000.json"),
      """{"blocks":8,"probeBits":1,"nImages":60}""" + "\n")
    def probe(path: String) = pairs(Multimodal.dedupPairsFromLoaded(
      Multimodal.loadIndex(spark, path, Fingerprint.image64), batch,
      "doc_id", "blob"))
    val got = probe(old)
    assert(got == probe(fresh))
    assert(got.exists { case (a, b, h) => a == 50000 && b == 0 && h == 0 })
    CacheScope.releaseSession(spark)
  }
}
