package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Fuzz property for the byte-level blob decoders — the three header
  * decodes and the five fingerprint kernels with their own box, chunk
  * and frame walks: on ARBITRARY bytes — random, truncated-valid, and
  * bit-flipped-valid — every decode returns (Some or None) promptly and
  * never throws or hangs. This is
  * the executable form of the quarantine contract ("never fail — or
  * hang — the batch"): at 100 TB a decoder meets every corruption the
  * storage layer can produce, and a single spinning executor thread is
  * an outage, not an error row. Seeded, deterministic.
  */
class DecoderFuzzSpec extends AnyFunSuite {

  private val rnd = new Random(20260813L)

  private def decodeAll(bytes: Array[Byte]): Unit = {
    Multimodal.decodeImageMeta(bytes)
    Multimodal.decodeAudioMeta(bytes)
    Multimodal.decodeVideoMeta(bytes)
    Multimodal.imageFingerprint64(bytes)
    Multimodal.imageFingerprintWide(bytes)
    Multimodal.audioFingerprint64(bytes)
    Multimodal.videoFingerprint64(bytes)
    Multimodal.videoFingerprintWide(bytes)
    ()
  }

  // budget generous enough for ImageIO on slow CI, tight enough that an
  // unbounded walk (the WAV hang's failure family) still fails the suite
  private def timed(label: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60.0, s"$label took ${sec}s — a decoder is not bounded")
  }

  test("decoders never throw on random bytes") {
    timed("random") {
      for (_ <- 1 to 300) {
        val n = rnd.nextInt(512)
        val b = new Array[Byte](n)
        rnd.nextBytes(b)
        decodeAll(b)
      }
    }
  }

  test("decoders never throw on magic-prefixed random tails") {
    // random bodies behind each container's magic: forces every parser
    // past its sniff and into its chunk/box walk
    val magics = Seq(
      "RIFF????WAVE".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
        Array[Byte](0, 0, 0, 0),
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))
    timed("magic-prefixed") {
      for (magic <- magics; _ <- 1 to 100) {
        val tail = new Array[Byte](rnd.nextInt(256))
        rnd.nextBytes(tail)
        decodeAll(magic ++ tail)
      }
    }
  }

  test("decoders never throw on truncated or bit-flipped valid fixtures") {
    val valid = Seq(
      Multimodal.encodeWav(16000, 2, 16, 50, 7L),
      Multimodal.encodeMp4(600, 1200, 320, 240, 48),
      Multimodal.encodeImage(8, 6, 7L, "png"),
      Multimodal.encodeImage(8, 6, 7L, "bmp"),
      // fixtures the kernels accept, so mutations reach the envelope
      // walks: 64 PCM windows, and 64 MJPEG frames sliced by `stsz`
      Multimodal.encodeWindowWav(2, Array.tabulate(64)(w => w * 5)),
      {
        val frames = (0 until 64).map(f =>
          Multimodal.grayFrameJpeg(f * 3 % 256, 1.0f)).toArray
        Multimodal.encodeMp4(600, 600L * 64, 8, 8, 64,
          mdatPayload = frames.reduce(_ ++ _),
          sampleSizes = frames.map(_.length))
      })
    timed("mutated-valid") {
      for (v <- valid) {
        for (cut <- 0 to v.length by math.max(1, v.length / 40))
          decodeAll(v.take(cut))
        for (_ <- 1 to 150) {
          val m = v.clone()
          // flip up to 4 random bytes — sizes, tags, and version fields
          // all get hit across iterations
          for (_ <- 0 to rnd.nextInt(4))
            m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          decodeAll(m)
        }
      }
    }
  }
}
