package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal.Fingerprint
import org.scalatest.funsuite.AnyFunSuite

/** WIDE (256-bit) image near-dup: fingerprint invariance, banded-join
  * == brute force at the 16×16-bit operating point, index/stream
  * parity, and the radius guards — the scale tier that replaces the
  * saturating 64-bit bands past ~10⁶ images.
  */
private object ImageDedupWideFixture extends Serializable {
  def lumasFor(src: Long, pert: Boolean): Array[Int] =
    Array.tabulate(256) { c =>
      (if (pert && c < 4) (src * 7 + c * 11 + 3) % 256
       else (src * 7 + c * 11) % 256).toInt
    }

  def hamming(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
}

class ImageDedupWideSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import ImageDedupWideFixture.{lumasFor, hamming}

  test("wide fingerprint is invariant to container and resolution") {
    for (src <- Seq(3L, 41L, 997L)) {
      val l = lumasFor(src, pert = false)
      val fps = for {
        fmt <- Seq("png", "bmp")
        cellPx <- Seq(1, 2, 5)
      } yield Multimodal.imageFingerprintWide(
        Multimodal.encodeCellImage(16, 16, cellPx, l, fmt)).map(_.toSeq)
      assert(fps.distinct.size == 1, s"src=$src: $fps")
      assert(fps.head.isDefined)
      assert(fps.head.get.size == 4)
    }
  }

  test("wide fingerprint replays the integer bit rule exactly") {
    val l = lumasFor(7L, pert = false)
    val fp = Multimodal.imageFingerprintWide(
      Multimodal.encodeCellImage(16, 16, 2, l, "png")).get
    val total = l.map(_.toLong).sum
    for (c <- 0 until 256) {
      val want = l(c).toLong * 256 > total
      val got = (fp(c / 64) >> (c % 64) & 1L) == 1L
      assert(got == want, s"bit $c")
    }
  }

  test("undecodable bytes are dropped, not failed") {
    assert(Multimodal.imageFingerprintWide(null).isEmpty)
    assert(Multimodal.imageFingerprintWide(Array[Byte](1, 2)).isEmpty)
  }

  private def plantedBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    val base = ids.as[Long].map { id =>
      (id, Multimodal.encodeCellImage(16, 16, 2, lumasFor(id, false),
        if (id % 2 == 0) "png" else "bmp"))
    }
    val reenc = ids.filter($"doc_id" % 10 === 0).as[Long].map { id =>
      (id + 50000, Multimodal.encodeCellImage(16, 16, 3,
        lumasFor(id, false), if (id % 2 == 0) "bmp" else "png"))
    }
    val near = ids.filter($"doc_id" % 15 === 0).as[Long].map { id =>
      (id + 60000, Multimodal.encodeCellImage(16, 16, 2,
        lumasFor(id, true), "png"))
    }
    base.union(reenc).union(near).toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  test("every planted re-encode pair surfaces at Hamming 0; banded " +
      "join equals brute force") {
    val fp = Multimodal.fingerprints(plantedBlobs, "doc_id",
      "blob", Fingerprint.imageWide).as[(Long, Seq[Long])].collect()
    val brute = (for {
      (ia, sa) <- fp; (ib, sb) <- fp if ia < ib
      h = hamming(sa, sb) if h <= 8
    } yield (ia, ib) -> h).toMap
    val banded = Multimodal.dedupPairs(plantedBlobs, "doc_id",
        "blob", Fingerprint.imageWide, maxHamming = 8)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(banded == brute)
    for (id <- 0L until 120L by 10)
      assert(banded.get((id, id + 50000)).contains(0),
        s"re-encode pair ($id, ${id + 50000}) missing or nonzero")
    CacheScope.releaseSession(spark)
  }

  private def batchBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    val reenc = ids.filter($"doc_id" % 10 === 0).as[Long].map { id =>
      (id + 50000, Multimodal.encodeCellImage(16, 16, 3,
        lumasFor(id, false), if (id % 2 == 0) "bmp" else "png"))
    }
    val near = ids.filter($"doc_id" % 15 === 0).as[Long].map { id =>
      (id + 60000, Multimodal.encodeCellImage(16, 16, 2,
        lumasFor(id, true), "png"))
    }
    reenc.union(near).toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  private def baseOnlyBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    ids.as[Long].map { id =>
      (id, Multimodal.encodeCellImage(16, 16, 2, lumasFor(id, false),
        if (id % 2 == 0) "png" else "bmp"))
    }.toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  test("wide index probe equals incremental brute force") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidxw").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.imageWide, path)
    val got = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.imageWide),
        batchBlobs, "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val corpusFp = Multimodal.fingerprints(baseOnlyBlobs,
      "doc_id", "blob", Fingerprint.imageWide).as[(Long, Seq[Long])].collect()
    val batchFp = Multimodal.fingerprints(batchBlobs,
      "doc_id", "blob", Fingerprint.imageWide).as[(Long, Seq[Long])].collect()
    val bvc = for {
      (ib, sb) <- batchFp; (ic, sc) <- corpusFp
      if hamming(sb, sc) <= 8
    } yield (ib, ic) // batch id first
    val bInternal = for {
      (ia, sa) <- batchFp; (ib, sb) <- batchFp if ia < ib
      if hamming(sa, sb) <= 8
    } yield (ia, ib)
    assert(got == (bvc ++ bInternal).toSet)
    assert(bvc.nonEmpty, "planted re-encodes must hit the corpus")
    CacheScope.releaseSession(spark)
  }

  test("micro-batch wide image dedup against the index = per-wave " +
      "FromIndex") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidxw_stream").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.imageWide, path)
    def wave(offset: Long): Seq[(Long, Array[Byte])] =
      (0L until 120L).filter(_ % 10 == 0).map { id =>
        (id + offset, Multimodal.encodeCellImage(16, 16, 3,
          lumasFor(id, false), "bmp"))
      }
    val (w1, w2) = (wave(50000L), wave(70000L))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamOps.probeStream(
        input.toDF().toDF("doc_id", "img")
          .select($"doc_id", Multimodal.asBlob($"img", "unknown")
            .as("blob")),
        Multimodal.loadIndex(_, path, Fingerprint.imageWide)) { (ix, batch, scope) =>
      Multimodal.dedupPairsFromLoaded(ix, batch, "doc_id", "blob",
        maxHamming = 8, scope = scope)
    } { (pairs, _) =>
        found ++= pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    val expected = Seq(w1, w2).map { w =>
      val batch = w.toDF("doc_id", "img")
        .select($"doc_id", Multimodal.asBlob($"img", "unknown")
          .as("blob"))
      Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.imageWide), batch,
          "doc_id", "blob", maxHamming = 8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }.reduce(_ union _)
    assert(found.toSet == expected)
    assert(found.nonEmpty)
    CacheScope.releaseSession(spark)
  }

  test("radius guards refuse maxHamming past the banding point") {
    val err = intercept[IllegalArgumentException] {
      Multimodal.dedupPairs(plantedBlobs, "doc_id", "blob",
          Fingerprint.imageWide,        maxHamming = 20)
    }
    assert(err.getMessage.contains("guaranteed radius"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidxw_refuse").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.imageWide, path)
    val err2 = intercept[IllegalArgumentException] {
      Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.imageWide), batchBlobs,
        "doc_id", "blob", maxHamming = 40)
    }
    assert(err2.getMessage.contains("guaranteed radius"))
  }
}
