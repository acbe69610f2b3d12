package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal.Fingerprint
import org.scalatest.funsuite.AnyFunSuite

/** The video near-dup family — [[AudioDedupSpec]]'s contract over MP4
  * frame envelopes: exact invariance of the relative energy rule under
  * remuxing (frame-count/amplitude rescales), banded-join completeness
  * vs brute force, index-probe parity, tombstones, and the streaming
  * member.
  */
class VideoDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def amps(seed: Long, pert: Boolean = false): Array[Int] =
    Array.tabulate(64) { f =>
      if (pert && f < 4) 0
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$f".getBytes("UTF-8"))
        ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 1024) * 2
      }
    }

  private def mp4(nFrames: Int, amps: Array[Int],
      segLen: Int = 12): Array[Byte] =
    Multimodal.encodeMp4(timescale = 600,
      durationTicks = 600L * nFrames, width = 320, height = 240,
      nFrames = nFrames,
      mdatPayload = Multimodal.encodeFramePayload(amps, segLen))

  private def fp(bytes: Array[Byte]): Long =
    Multimodal.videoFingerprint64(bytes).get

  test("fingerprint invariant to remux (frames x2, energy /2) and " +
      "segment width") {
    val seed = (1L to 50L)
      .find(s => (fp(mp4(64, amps(s))) & 0xfL) != 0).get
    val base = fp(mp4(64, amps(seed)))
    // remuxed: doubled frame count, halved per-frame energy (amps are
    // even -> exact), and a different segment width
    assert(fp(mp4(128, amps(seed).map(_ / 2).flatMap(a => Array(a, a)),
      segLen = 9)) == base)
    // energy-tripled copy (brightness/bitrate analog)
    assert(fp(mp4(64, amps(seed).map(_ * 3), segLen = 32)) == base)
    // a locally-edited copy moves only a few bits
    val h = java.lang.Long.bitCount(base ^
      fp(mp4(64, amps(seed, pert = true))))
    assert(h > 0 && h <= 8, s"hamming $h")
  }

  // ---- the DECODED path: MJPEG-in-MP4 with a real stsz size table

  private def grays(seed: Long, pert: Boolean = false): Array[Int] =
    Array.tabulate(64) { f =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$f".getBytes("UTF-8"))
      ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 96) * 2 +
        (if (pert && f < 4) 60 else 0)
    }

  private def mjpeg(gs: Array[Int], q: Float): Array[Byte] = {
    val frames = gs.map(Multimodal.grayFrameJpeg(_, q))
    Multimodal.encodeMp4(timescale = 600,
      durationTicks = 600L * gs.length, width = 8, height = 8,
      nFrames = gs.length, mdatPayload = frames.reduce(_ ++ _),
      sampleSizes = frames.map(_.length))
  }

  test("MJPEG decode path: a RE-ENCODED copy (same frames, different " +
      "bytes) fingerprints identically — the case byte-sums cannot pass") {
    val g = grays(7L)
    val a = mjpeg(g, 1.0f)
    val b = mjpeg(g, 0.9f) // different quant tables: every frame's
                           // bytes (and usually sizes) differ
    assert(!java.util.Arrays.equals(a, b))
    assert(fp(a) == fp(b))
    // byte-sums genuinely diverge between the encodings, so the old
    // stub feature could not have matched them bit-for-bit
    def frameByteSums(bytes: Array[Byte]): Seq[Long] = {
      val sizes = Multimodal.readStszSizes(bytes).get
      assert(sizes.length == 64)
      // slice frames off the mdat and sum bytes per frame
      val mdatIdx = {
        // frames start right after the mdat header; find by matching
        // total size from the end
        bytes.length - sizes.map(_.toLong).sum.toInt
      }
      var off = mdatIdx
      sizes.toSeq.map { sz =>
        val s = (off until off + sz).map(i => (bytes(i) & 0xff).toLong).sum
        off += sz; s
      }
    }
    assert(frameByteSums(a) != frameByteSums(b))
    // re-encode + remux together: doubled frames, halved gray, new
    // quality — envelope and decode cancel everything
    assert(fp(mjpeg(g.map(_ / 2).flatMap(x => Array(x, x)), 0.9f)) ==
      fp(a))
    // a locally-edited copy still moves only a few bits
    val h = java.lang.Long.bitCount(fp(a) ^
      fp(mjpeg(grays(7L, pert = true), 1.0f)))
    assert(h > 0 && h <= 8, s"hamming $h")
    // the decoded energy is exact: uniform-gray JPEG lumas to g per
    // pixel at either quality
    assert(Multimodal.imageLumaSum(
      Multimodal.grayFrameJpeg(137, 0.9f)) === Some(137L * 64))
    assert(Multimodal.imageLumaSum(
      Multimodal.grayFrameJpeg(137, 1.0f)) === Some(137L * 64))
  }

  test("stsz table round-trips; header-only stsz yields no sizes") {
    val gs = grays(3L)
    val frames = gs.map(Multimodal.grayFrameJpeg(_, 1.0f))
    val withTable = mjpeg(gs, 1.0f)
    assert(Multimodal.readStszSizes(withTable).get.toSeq ===
      frames.map(_.length).toSeq)
    // header-only stsz (count but sample_size=0 and no table): the
    // legacy layout — not sliceable, byte-sum fallback territory
    assert(Multimodal.readStszSizes(
      mp4(64, amps(3L))).isEmpty)
    // decodeVideoMeta still reads the frame count from the table form
    assert(Multimodal.decodeVideoMeta(withTable).get._6 === 64L)
  }

  test("short, frameless, and corrupt clips drop, never fail") {
    assert(Multimodal.videoFingerprint64(null).isEmpty)
    assert(Multimodal.videoFingerprint64(Array[Byte](1, 2, 3)).isEmpty)
    // header-only fixture (empty mdat payload, 63 frames < 64 floor)
    assert(Multimodal.videoFingerprint64(
      Multimodal.encodeMp4(600, 600L, 320, 240, nFrames = 63)).isEmpty)
    // valid header but payload shorter than a byte per frame
    assert(Multimodal.videoFingerprint64(
      Multimodal.encodeMp4(600, 600L, 320, 240, nFrames = 64,
        mdatPayload = Array[Byte](1, 2, 3))).isEmpty)
    // a WAV is not a BMFF container
    assert(Multimodal.videoFingerprint64(
      Multimodal.encodeWindowWav(25, amps(1))).isEmpty)
  }

  private def blobs(rows: Seq[(Long, Array[Byte])]): DataFrame =
    rows.toDF("doc_id", "vid").select($"doc_id",
      Multimodal.asVideoBlob($"vid", "unknown").as("blob"))

  private lazy val corpus: Seq[(Long, Array[Byte])] =
    (1L to 40L).map(i => i -> mp4(64, amps(i)))
  private lazy val batch: Seq[(Long, Array[Byte])] =
    (1L to 40L).filter(_ % 4 == 0).map(i =>
      (i + 1000) -> mp4(128,
        amps(i).map(_ / 2).flatMap(a => Array(a, a)))) ++
      (1L to 40L).filter(_ % 5 == 0).map(i =>
        (i + 2000) -> mp4(64, amps(i, pert = true)))

  test("banded pairs equal brute force; index probe matches rebuild") {
    val all = blobs(corpus ++ batch)
    val banded = Multimodal.dedupPairs(all, "doc_id", "blob",
        Fingerprint.video64, maxHamming = 8)
      .select("id_a", "id_b", "hamming")
      .collect().map(_.toSeq).toSet
    val fps = corpus ++ batch map { case (id, b) => (id, fp(b)) }
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 8
    } yield Seq[Any](a, b, h.toLong)).toSet
    assert(banded == brute && banded.nonEmpty)

    val p = java.nio.file.Files
      .createTempDirectory("graft_video_idx").toString
    Multimodal.writeIndex(blobs(corpus), "doc_id", "blob",
      Fingerprint.video64, p)
    val probed = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, p, Fingerprint.video64),
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
        Multimodal.loadIndex(spark, p, Fingerprint.video64),
      blobs(batch), "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    assert(afterTomb ==
      bruteInc.filterNot(p => p(1).asInstanceOf[Long] % 8 == 0 &&
        p(1).asInstanceOf[Long] <= 40))
  }

  test("micro-batch video dedup against the index = per-wave FromIndex") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val p = java.nio.file.Files
      .createTempDirectory("graft_videoidx_stream").toString + "/idx"
    Multimodal.writeIndex(blobs(corpus), "doc_id", "blob",
      Fingerprint.video64, p)
    val waves = Seq(batch.take(6), batch.drop(6))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamOps.probeStream(
        input.toDF().toDF("doc_id", "vid")
          .select($"doc_id", Multimodal.asVideoBlob($"vid", "unknown")
            .as("blob")),
        Multimodal.loadIndex(_, p, Fingerprint.video64)) { (ix, batch, scope) =>
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
        Multimodal.loadIndex(spark, p, Fingerprint.video64), blobs(w),
          "doc_id", "blob", maxHamming = 8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }.reduce(_ union _)
    assert(found.toSet == expected && found.nonEmpty)
    CacheScope.releaseSession(spark)
  }
}
