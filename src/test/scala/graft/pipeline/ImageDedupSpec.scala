package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal.Fingerprint
import org.scalatest.funsuite.AnyFunSuite

/** Image near-dup: perceptual-fingerprint invariance, banded-join
  * recall vs brute force, and the planted re-encode truth set.
  */
/** Serializable fixture helper: executor closures must not capture the
  * (non-serializable) suite instance.
  */
private object ImageDedupFixture extends Serializable {
  def lumasFor(src: Long, pert: Boolean): Array[Int] =
    Array.tabulate(64) { c =>
      (if (pert && c < 4) (src * 7 + c * 11 + 3) % 256
       else (src * 7 + c * 11) % 256).toInt
    }
}

class ImageDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import ImageDedupFixture.lumasFor

  test("fingerprint is invariant to container and resolution") {
    for (src <- Seq(3L, 41L, 997L)) {
      val l = lumasFor(src, pert = false)
      val fps = for {
        fmt <- Seq("png", "bmp")
        cellPx <- Seq(1, 2, 5)
      } yield Multimodal.imageFingerprint64(
        Multimodal.encodeCellImage(8, 8, cellPx, l, fmt))
      assert(fps.distinct.size == 1, s"src=$src: $fps")
      assert(fps.head.isDefined)
    }
  }

  test("undecodable bytes are dropped, not failed") {
    assert(Multimodal.imageFingerprint64(null).isEmpty)
    assert(Multimodal.imageFingerprint64(Array[Byte](1, 2, 3)).isEmpty)
  }

  private def plantedBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    val base = ids.as[Long].map { id =>
      (id, Multimodal.encodeCellImage(8, 8, 2, lumasFor(id, false),
        if (id % 2 == 0) "png" else "bmp"))
    }
    val reenc = ids.filter($"doc_id" % 10 === 0).as[Long].map { id =>
      (id + 50000, Multimodal.encodeCellImage(8, 8, 3,
        lumasFor(id, false), if (id % 2 == 0) "bmp" else "png"))
    }
    base.union(reenc).toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  test("every planted re-encode pair surfaces at Hamming 0") {
    val pairs = Multimodal.dedupPairs(plantedBlobs, "doc_id", "blob",
        Fingerprint.image64,        maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    for (id <- 0L until 120L by 10) {
      assert(pairs.get((id, id + 50000)).contains(0),
        s"re-encode pair ($id, ${id + 50000}) missing or nonzero")
    }
    CacheScope.releaseSession(spark)
  }

  test("banded join equals brute force over the fingerprints") {
    val fp = Multimodal.fingerprints(plantedBlobs, "doc_id", "blob",
      Fingerprint.image64)
    val rows = fp.as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 8
    } yield (ia, ib)).toSet
    val banded = Multimodal.dedupPairs(plantedBlobs, "doc_id",
        "blob", Fingerprint.image64, maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty)
    CacheScope.releaseSession(spark)
  }

  private def batchBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    val reenc = ids.filter($"doc_id" % 10 === 0).as[Long].map { id =>
      (id + 50000, Multimodal.encodeCellImage(8, 8, 3,
        lumasFor(id, false), if (id % 2 == 0) "bmp" else "png"))
    }
    val near = ids.filter($"doc_id" % 15 === 0).as[Long].map { id =>
      (id + 60000, Multimodal.encodeCellImage(8, 8, 2,
        lumasFor(id, true), "png"))
    }
    reenc.union(near).toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  private def baseOnlyBlobs = {
    val ids = (0L until 120L).toDF("doc_id")
    ids.as[Long].map { id =>
      (id, Multimodal.encodeCellImage(8, 8, 2, lumasFor(id, false),
        if (id % 2 == 0) "png" else "bmp"))
    }.toDF("doc_id", "img")
      .select($"doc_id", Multimodal.asBlob($"img", "unknown").as("blob"))
  }

  test("index probe equals incremental brute force over fingerprints") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidx").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.image64, path)
    val got = Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.image64),
        batchBlobs, "doc_id", "blob", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val corpusFp = Multimodal.fingerprints(baseOnlyBlobs,
      "doc_id", "blob", Fingerprint.image64).as[(Long, Long)].collect()
    val batchFp = Multimodal.fingerprints(batchBlobs,
      "doc_id", "blob", Fingerprint.image64).as[(Long, Long)].collect()
    val bvc = for {
      (ib, sb) <- batchFp; (ic, sc) <- corpusFp
      if java.lang.Long.bitCount(sb ^ sc) <= 8
    } yield (ib, ic) // batch id first
    val bInternal = for {
      (ia, sa) <- batchFp; (ib, sb) <- batchFp if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (ia, ib)
    assert(got == (bvc ++ bInternal).toSet)
    assert(bvc.nonEmpty, "planted re-encodes must hit the corpus")
    CacheScope.releaseSession(spark)
  }

  test("micro-batch image dedup against the index = per-wave FromIndex") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidx_stream").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.image64, path)
    def wave(mod: Long, offset: Long): Seq[(Long, Array[Byte])] =
      (0L until 120L).filter(_ % 10 === mod).map { id =>
        (id + offset, Multimodal.encodeCellImage(8, 8, 3,
          lumasFor(id, false), "bmp"))
      }
    val (w1, w2) = (wave(0L, 50000L), wave(0L, 70000L))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamOps.probeStream(
        input.toDF().toDF("doc_id", "img")
          .select($"doc_id", Multimodal.asBlob($"img", "unknown")
            .as("blob")),
        Multimodal.loadIndex(_, path, Fingerprint.image64)) { (ix, batch, scope) =>
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
        Multimodal.loadIndex(spark, path, Fingerprint.image64), batch,
          "doc_id", "blob", maxHamming = 8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }.reduce(_ union _)
    assert(found.toSet == expected)
    assert(found.nonEmpty)
    CacheScope.releaseSession(spark)
  }

  test("index probe refuses maxHamming past the stored point's radius") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgidx_refuse").toString + "/idx"
    Multimodal.writeIndex(baseOnlyBlobs, "doc_id", "blob",
      Fingerprint.image64, path)
    val err = intercept[IllegalArgumentException] {
      Multimodal.dedupPairsFromLoaded(
        Multimodal.loadIndex(spark, path, Fingerprint.image64), batchBlobs,
        "doc_id", "blob", maxHamming = 40)
    }
    assert(err.getMessage.contains("guaranteed radius"))
  }

  test("maxHamming past the guaranteed radius is refused") {
    val err = intercept[IllegalArgumentException] {
      Multimodal.dedupPairs(plantedBlobs, "doc_id", "blob",
          Fingerprint.image64,        maxHamming = 20)
    }
    assert(err.getMessage.contains("guaranteed radius"))
  }
}
