package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal.Fingerprint
import org.scalatest.funsuite.AnyFunSuite

/** The audio near-dup family: exact invariance of the integer envelope
  * rule under volume scaling / resampling / container-size changes,
  * banded-join completeness vs brute force, index-probe parity, and
  * tombstones on the fingerprint index.
  */
class AudioDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // pert = a LOCAL edit: the first four windows silenced — flips their
  // set bits (and only thereabouts), the near-dup shape
  private def amps(seed: Long, pert: Boolean = false): Array[Int] =
    Array.tabulate(64) { w =>
      if (pert && w < 4) 0
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$w".getBytes("UTF-8"))
        ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 1024) * 2
      }
    }

  private def fp(bytes: Array[Byte]): Long =
    Multimodal.audioFingerprint64(bytes).get

  test("fingerprint is exactly invariant to volume, rate, and length") {
    // pick a seed whose clip has a LOUD window among the first four, so
    // silencing them provably flips at least one bit
    val seed = (1L to 50L)
      .find(s => (fp(Multimodal.encodeWindowWav(25, amps(s))) & 0xfL) != 0)
      .get
    val base = fp(Multimodal.encodeWindowWav(25, amps(seed)))
    // volume-halved (amps are even -> exact), frames doubled, new rate
    assert(fp(Multimodal.encodeWindowWav(50, amps(seed).map(_ / 2),
      sampleRate = 16000)) == base)
    // volume-tripled at another window length
    assert(fp(Multimodal.encodeWindowWav(13,
      amps(seed).map(_ * 3))) == base)
    // a locally-edited copy moves only a few bits
    val h = java.lang.Long.bitCount(base ^
      fp(Multimodal.encodeWindowWav(25, amps(seed, pert = true))))
    assert(h > 0 && h <= 8, s"hamming $h")
  }

  test("non-PCM, short, and corrupt clips are dropped, not failed") {
    assert(Multimodal.audioFingerprint64(null).isEmpty)
    assert(Multimodal.audioFingerprint64(Array[Byte](1, 2, 3)).isEmpty)
    // too short to carry an envelope (63 frames)
    val short = Multimodal.encodeWav(8000, 1, 16, 63, seed = 1)
    assert(Multimodal.audioFingerprint64(short).isEmpty)
    // 8-bit PCM is outside the 16-bit contract
    val eightBit = Multimodal.encodeWav(8000, 1, 8, 128, seed = 1)
    assert(Multimodal.audioFingerprint64(eightBit).isEmpty)
  }

  private def blobs(rows: Seq[(Long, Array[Byte])]): DataFrame =
    rows.toDF("doc_id", "wav").select($"doc_id",
      Multimodal.asBlob($"wav", "unknown").as("blob"))

  private lazy val corpus: Seq[(Long, Array[Byte])] =
    (1L to 40L).map(i => i -> Multimodal.encodeWindowWav(25, amps(i)))
  private lazy val batch: Seq[(Long, Array[Byte])] =
    (1L to 40L).filter(_ % 4 == 0).map(i =>
      (i + 1000) -> Multimodal.encodeWindowWav(50, amps(i).map(_ / 2),
        sampleRate = 16000)) ++
      (1L to 40L).filter(_ % 5 == 0).map(i =>
        (i + 2000) -> Multimodal.encodeWindowWav(25, amps(i, pert = true)))

  test("banded pairs equal brute force; index probe matches rebuild") {
    val all = blobs(corpus ++ batch)
    val banded = Multimodal.dedupPairs(all, "doc_id", "blob",
        Fingerprint.audio64, maxHamming = 8)
      .select("id_a", "id_b", "hamming")
      .collect().map(_.toSeq).toSet
    val fps = corpus ++ batch map { case (id, b) => (id, fp(b)) }
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 8
    } yield Seq[Any](a, b, h.toLong)).toSet
    assert(banded == brute && banded.nonEmpty)

    val p = java.nio.file.Files
      .createTempDirectory("graft_audio_idx").toString
    Multimodal.writeIndex(blobs(corpus), "doc_id", "blob",
      Fingerprint.audio64, p)
    val probed = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, p, Fingerprint.audio64),
      blobs(batch), "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    val bruteInc = (for {
      (a, fa) <- batch.map { case (id, b) => (id, fp(b)) }
      (b, fb) <- fps if a != b &&
        (b <= 40 || (a < b && b > 1000))
      if java.lang.Long.bitCount(fa ^ fb) <= 8
    } yield Seq[Any](a, b)).toSet
    assert(probed == bruteInc && probed.nonEmpty)

    // tombstoning corpus ids %8==0 removes exactly their pairs
    Dedup.writeIdTombstones(
      Seq.range(8L, 41L, 8L).toDF("doc_id"), "doc_id", p)
    val afterTomb = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, p, Fingerprint.audio64),
      blobs(batch), "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    assert(afterTomb ==
      bruteInc.filterNot(p => p(1).asInstanceOf[Long] % 8 == 0 &&
        p(1).asInstanceOf[Long] <= 40))
  }

  test("micro-batch audio dedup against the index = per-wave FromIndex") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val p = java.nio.file.Files
      .createTempDirectory("graft_audioidx_stream").toString + "/idx"
    Multimodal.writeIndex(blobs(corpus), "doc_id", "blob",
      Fingerprint.audio64, p)
    val waves = Seq(batch.take(6), batch.drop(6))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamOps.probeStream(
        input.toDF().toDF("doc_id", "wav")
          .select($"doc_id", Multimodal.asBlob($"wav", "unknown")
            .as("blob")),
        Multimodal.loadIndex(_, p, Fingerprint.audio64)) { (ix, batch, scope) =>
      Multimodal.dedupPairsFromLoaded(ix, batch, "doc_id", "blob",
        maxHamming = 8, scope = scope)
    } { (pairs, _) =>
        found ++= pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val expected = waves.map { w =>
      Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, p, Fingerprint.audio64), blobs(w),
          "doc_id", "blob", maxHamming = 8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }.reduce(_ union _)
    assert(found.toSet == expected && found.nonEmpty)
    CacheScope.releaseSession(spark)
  }
}
