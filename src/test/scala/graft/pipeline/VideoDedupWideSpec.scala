package graft.pipeline

import graft.SparkTestBase
import graft.pipeline.Multimodal.Fingerprint
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** WIDE (256-bit) video near-dup: 256 envelope cells over the frame
  * sequence — remux/re-encode invariance, banded == brute force, index
  * parity. The video member of the wide perceptual tier.
  */
private object VideoDedupWideFixture extends Serializable {
  def graysFor(src: Long, pert: Boolean, halved: Boolean): Array[Int] =
    Array.tabulate(256) { f =>
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$src:$f".getBytes("UTF-8"))
      val v = ((dg(0) & 0xff) << 8) | (dg(1) & 0xff)
      val g = (v % 96) * 2 + (if (pert && f < 16) 60 else 0)
      if (halved) g / 2 else g
    }

  def mp4(grays: Array[Int], quality: Float): Array[Byte] = {
    val frames = grays.map(Multimodal.grayFrameJpeg(_, quality))
    Multimodal.encodeMp4(timescale = 600,
      durationTicks = 600L * grays.length, width = 8, height = 8,
      nFrames = grays.length,
      mdatPayload = frames.reduce(_ ++ _),
      sampleSizes = frames.map(_.length))
  }

  def hamming(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
}

class VideoDedupWideSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import VideoDedupWideFixture.{graysFor, mp4, hamming}

  test("wide fingerprint: remux (double frames, half gray, other " +
      "quality) is Hamming 0; clips under 256 frames drop") {
    val base = mp4(graysFor(5L, pert = false, halved = false), 1.0f)
    val remux = mp4(graysFor(5L, pert = false, halved = true)
      .flatMap(g => Array(g, g)), 0.9f)
    val fa = Multimodal.videoFingerprintWide(base)
    val fb = Multimodal.videoFingerprintWide(remux)
    assert(fa.isDefined && fb.isDefined)
    assert(fa.get.toSeq == fb.get.toSeq, "remux changed the envelope")
    assert(fa.get.length == 4)
    // a 64-frame clip carries a 64-bit fingerprint but NOT a wide one
    val short = mp4(graysFor(5L, false, false).take(64), 1.0f)
    assert(Multimodal.videoFingerprint64(short).isDefined)
    assert(Multimodal.videoFingerprintWide(short).isEmpty)
  }

  test("64-bit fingerprint equals the first 64 envelope cells of a " +
      "64-frame clip (shared-core regression guard)") {
    val clip = mp4(graysFor(9L, false, false).take(64), 1.0f)
    val fp = Multimodal.videoFingerprint64(clip).get
    // replay from planted grays: frame energy = gray * 64 px (8x8)
    val e = graysFor(9L, false, false).take(64).map(_.toLong * 64)
    val total = e.sum
    for (c <- 0 until 64) {
      val want = BigInt(e(c)) * 64 > BigInt(total) * 1
      assert(((fp >> c & 1L) == 1L) == want, s"bit $c")
    }
  }

  private def plantedBlobs = {
    val ids = (0L until 40L).toDF("doc_id")
    val base = ids.as[Long].map { id =>
      (id, mp4(graysFor(id, false, false), 1.0f))
    }
    val remux = ids.filter($"doc_id" % 10 === 0).as[Long].map { id =>
      (id + 50000, mp4(graysFor(id, false, true)
        .flatMap(g => Array(g, g)), 0.9f))
    }
    val near = ids.filter($"doc_id" % 15 === 0).as[Long].map { id =>
      (id + 60000, mp4(graysFor(id, true, false), 1.0f))
    }
    base.union(remux).union(near).toDF("doc_id", "vid")
      .select($"doc_id",
        Multimodal.asVideoBlob($"vid", "unknown").as("blob"))
  }

  test("wide banded pairs equal brute force; remux pairs at Hamming 0") {
    val fp = Multimodal.fingerprints(plantedBlobs, "doc_id",
      "blob", Fingerprint.videoWide).as[(Long, Seq[Long])].collect()
    val brute = (for {
      (ia, sa) <- fp; (ib, sb) <- fp if ia < ib
      h = hamming(sa, sb) if h <= 8
    } yield (ia, ib) -> h).toMap
    val banded = Multimodal.dedupPairs(plantedBlobs, "doc_id",
        "blob", Fingerprint.videoWide, maxHamming = 8)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(banded == brute)
    for (id <- 0L until 40L by 10)
      assert(banded.get((id, id + 50000)).contains(0),
        s"remux pair ($id, ${id + 50000}) missing or nonzero")
    CacheScope.releaseSession(spark)
  }

  test("wide video index probe equals incremental brute force") {
    val baseBlobs = plantedBlobs.filter($"doc_id" < 50000)
    val batch = plantedBlobs.filter($"doc_id" >= 50000)
    val path = java.nio.file.Files
      .createTempDirectory("graft_vididxw").toString + "/idx"
    Multimodal.writeIndex(baseBlobs, "doc_id", "blob",
      Fingerprint.videoWide, path)
    val got = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.videoWide),
        batch, "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val corpusFp = Multimodal.fingerprints(baseBlobs,
      "doc_id", "blob", Fingerprint.videoWide).as[(Long, Seq[Long])].collect()
    val batchFp = Multimodal.fingerprints(batch,
      "doc_id", "blob", Fingerprint.videoWide).as[(Long, Seq[Long])].collect()
    val bvc = for {
      (ib, sb) <- batchFp; (ic, sc) <- corpusFp
      if hamming(sb, sc) <= 8
    } yield (ib, ic)
    val bInternal = for {
      (ia, sa) <- batchFp; (ib, sb) <- batchFp if ia < ib
      if hamming(sa, sb) <= 8
    } yield (ia, ib)
    assert(got == (bvc ++ bInternal).toSet)
    assert(bvc.nonEmpty, "planted remuxes must hit the corpus")
    CacheScope.releaseSession(spark)
  }
}
