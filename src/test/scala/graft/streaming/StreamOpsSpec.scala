package graft.streaming

import graft.SparkTestBase
import graft.schema.Avro
import graft.ops.FlattenOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def processAll(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("micro-batch dedup against the persisted index = batch contract") {
    import graft.pipeline.Dedup
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_idx").toString
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", path)
    // two near-dup waves from different source docs (doc_id%20==0 →
    // +20000, %20==10 → +30000): the accumulated per-micro-batch pairs
    // must equal the one-shot FromIndex contract on the union MINUS
    // cross-wave pairs — pairs BETWEEN micro-batches are exactly what
    // the scaladoc declares out of contract (each batch probes only the
    // index), and the corpus's own internal near-dups (docs 0/50/82)
    // make such a pair exist here, so the exclusion is exercised
    def wave(mod: Long, offset: Long): Seq[(Long, String)] =
      corpus.filter($"doc_id" % 20 === mod)
        .collect().map(r => (r.getLong(0) + offset,
          r.getString(1) + " zz qq xx")).toSeq
    val w1 = wave(0L, 20000L)
    val w2 = wave(10L, 30000L)
    val input = MemoryStream[(Long, String)](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamOps.dedupStreamAgainstIndex(
      input.toDF().toDF("doc_id", "text"), path, "doc_id", "text",
      threshold = 0.7) { (pairs, _) =>
        found ++= pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    input.addData(w1)
    q.processAllAvailable() // wave 1 = micro-batch 1
    input.addData(w2)
    q.processAllAvailable() // wave 2 = micro-batch 2
    q.stop()
    val oneShot = Dedup.minhashPairsFromIndex(spark, path,
      (w1 ++ w2).toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def waveOf(id: Long): Int =
      if (id >= 30000L) 2 else if (id >= 20000L) 1 else 0
    val (cross, sameWave) = oneShot.partition { case (a, b) =>
      waveOf(a) > 0 && waveOf(b) > 0 && waveOf(a) != waveOf(b) }
    assert(cross.nonEmpty, "expected a cross-wave pair to exercise " +
      "the exclusion (corpus-internal near-dups)")
    assert(found.toSet == sameWave,
      s"accumulated ${found.toSet} != one-shot-minus-cross $sameWave")
    assert(found.nonEmpty && found.forall(_._1 >= 20000L))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  // Shared two-wave harness for the per-family streaming index probes:
  // each micro-batch probes only the persisted index, so the accumulated
  // pairs must equal the UNION of the one-shot FromIndex contract run on
  // each wave separately (cross-wave pairs excluded by construction).
  private def docWaves(): (org.apache.spark.sql.DataFrame,
      Seq[(Long, String)], Seq[(Long, String)]) = {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    def wave(mod: Long, offset: Long): Seq[(Long, String)] =
      corpus.filter($"doc_id" % 20 === mod)
        .collect().map(r => (r.getLong(0) + offset,
          r.getString(1) + " zz qq xx")).toSeq
    (corpus, wave(0L, 20000L), wave(10L, 30000L))
  }

  private def accumulate[T <: Product : org.apache.spark.sql.Encoder](
      w1: Seq[T], w2: Seq[T], cols: Seq[String])(
      start: org.apache.spark.sql.DataFrame =>
        ((org.apache.spark.sql.DataFrame, Long) => Unit) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): Set[(Long, Long)] = {
    val input = MemoryStream[T](spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = start(input.toDF().toDF(cols: _*)) { (pairs, _) =>
      found ++= pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    found.toSet
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("micro-batch simhash dedup against the persisted index = per-wave FromIndex") {
    import graft.pipeline.Dedup
    val (corpus, w1, w2) = docWaves()
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_shidx").toString
    Dedup.writeSimhashIndex(corpus, "doc_id", "text", path)
    val found = accumulate(w1, w2, Seq("doc_id", "text")) { stream => sink =>
      StreamOps.probeStream(stream, _ => ()) { (_, batch, scope) =>
        Dedup.simhashPairsFromIndex(batch.sparkSession, path, batch,
          "doc_id", "text", threshold = 0.7, scope = scope)
      }(sink)
    }
    val expected = Seq(w1, w2).map { w =>
      pairSet(Dedup.simhashPairsFromIndex(spark, path,
        w.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.7))
    }.reduce(_ union _)
    assert(found == expected, s"accumulated $found != per-wave $expected")
    assert(found.nonEmpty && found.forall(_._1 >= 20000L))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("micro-batch ngram dedup against the persisted index = per-wave FromIndex") {
    import graft.pipeline.Dedup
    val (corpus, w1, w2) = docWaves()
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_ngidx").toString
    Dedup.writeNgramIndex(corpus, "doc_id", "text", path)
    val found = accumulate(w1, w2, Seq("doc_id", "text")) { stream => sink =>
      StreamOps.probeStream(stream, _ => ()) { (_, batch, scope) =>
        Dedup.ngramJaccardPairsFromIndex(batch.sparkSession, path, batch,
          "doc_id", "text", threshold = 0.7, scope = scope)
      }(sink)
    }
    val expected = Seq(w1, w2).map { w =>
      pairSet(Dedup.ngramJaccardPairsFromIndex(spark, path,
        w.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.7))
    }.reduce(_ union _)
    assert(found == expected, s"accumulated $found != per-wave $expected")
    assert(found.nonEmpty && found.forall(_._1 >= 20000L))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("micro-batch embedding dedup against the persisted index = per-wave FromIndex") {
    import graft.pipeline.Dedup
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    def wave(mod: Long, offset: Long): Seq[(Long, Seq[Float])] =
      corpus.filter($"vec_id" % 50 === mod)
        .collect().map(r => (r.getLong(0) + offset,
          r.getSeq[Float](1).map(_ * 1.001f))).toSeq
    val (w1, w2) = (wave(0L, 100000L), wave(25L, 200000L))
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_embidx").toString
    Dedup.writeEmbeddingIndex(corpus, "vec_id", "embedding", path, dim = 64)
    val found = accumulate(w1, w2, Seq("vec_id", "embedding")) {
      stream => sink =>
        StreamOps.probeStream(stream, _ => ()) { (_, batch, scope) =>
          Dedup.embeddingPairsFromIndex(batch.sparkSession, path, batch,
            "vec_id", "embedding", threshold = 0.999, scope = scope)
        }(sink)
    }
    val expected = Seq(w1, w2).map { w =>
      pairSet(Dedup.embeddingPairsFromIndex(spark, path,
        w.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.999))
    }.reduce(_ union _)
    assert(found == expected, s"accumulated $found != per-wave $expected")
    assert(found.nonEmpty && found.forall(_._1 >= 100000L))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("micro-batch ANN against the persisted IVF index = per-wave FromIndex") {
    import graft.pipeline.{Dedup, Similarity}
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", k = 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_ivfidx").toString + "/idx"
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", centroids, path)
    def wave(mod: Long, offset: Long): Seq[(Long, Seq[Float])] =
      corpus.filter($"vec_id" % 100 === mod)
        .collect().map(r => (r.getLong(0) + offset,
          r.getSeq[Float](1).map(_ * 1.5f))).toSeq
    val (w1, w2) = (wave(3L, 1000L), wave(7L, 2000L))
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val found = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Int)]
    val q = StreamOps.probeStream(input.toDF().toDF("qid", "qv"),
        Similarity.loadIvfIndex(_, path)) { (ix, batch, _) =>
      Similarity.ivfTopKFromLoaded(ix, batch, "qid", "qv", k = 3,
        nProbe = 2)
    } { (topk, _) =>
        found ++= topk.select("query_id", "id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    val expected = Seq(w1, w2).map { w =>
      Similarity.ivfTopKFromIndex(spark, path,
        w.toDF("qid", "qv"), "qid", "qv", k = 3, nProbe = 2)
        .select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }.reduce(_ union _)
    assert(found.toSet == expected,
      s"accumulated ${found.toSet} != per-wave $expected")
    assert(found.nonEmpty && found.forall(_._1 >= 1000L))
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("micro-batch ANN against the QUANTIZED IVF index = batch FromIndex") {
    import graft.pipeline.Similarity
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", k = 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_ivfq").toString + "/idx"
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", centroids,
      path, quantize = true)
    val w = corpus.filter($"vec_id" % 100 === 5)
      .collect().map(r => (r.getLong(0) + 3000L,
        r.getSeq[Float](1).map(_ * 0.5f))).toSeq
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val found = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Int)]
    val q = StreamOps.probeStream(input.toDF().toDF("qid", "qv"),
        Similarity.loadIvfIndex(_, path)) { (ix, batch, _) =>
      Similarity.ivfTopKFromLoaded(ix, batch, "qid", "qv", k = 2,
        nProbe = 2)
    } { (topk, _) =>
        found ++= topk.select("query_id", "id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }.start()
    input.addData(w); q.processAllAvailable()
    q.stop()
    val expected = Similarity.ivfTopKFromIndex(spark, path,
        w.toDF("qid", "qv"), "qid", "qv", k = 2, nProbe = 2)
      .select("query_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(found.toSet == expected && found.nonEmpty)
    // quantized self-match: rank-1 hit for a scaled-self query is the
    // original vector (cosine is scale-invariant; margins dominate the
    // quantization error in this corpus)
    found.filter(_._3 == 1).foreach { case (qid, id, _) =>
      assert(id == qid - 3000L, s"query $qid rank-1 was $id")
    }
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("flatten + validate on a stream behave like batch") {
    val w = Avro.create("""{"name":"e","type":"record","fields":[
      {"name":"event_id","type":"long"},
      {"name":"event_type","type":"string"}]}""")
    val r = Avro.create("""{"name":"e","type":"record","fields":[
      {"name":"etype","type":"string","aliases":["event_type"]},
      {"name":"event_id","type":"long"},
      {"name":"chan","type":"string","default":"s"}]}""")
    val c = FlattenOps.compile(w, r).toOption.get
    val input = MemoryStream[(Long, String)](spark)
    input.addData((1L, "click"), (2L, "view"))
    val stream = input.toDF().toDF("event_id", "event_type")
    val out = processAll(
      stream.select(c.flattenColumns(name => stream(name)): _*),
      "flat_stream")
    assert(out.columns.toSeq == Seq("etype", "event_id", "chan"))
    assert(out.orderBy("event_id").collect().map(_.toSeq.toList).toList ==
      List(List("click", 1L, "s"), List("view", 2L, "s")))
  }

  test("micro-batch chunking = batch chunking (stateless parity)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val batch = graft.pipeline.Chunking
      .chunkDocuments(docs, "doc_id", "text", size = 16, overlap = 4)
      .orderBy("doc_id", "chunk_id").collect().map(_.toSeq.toList).toList
    // split the corpus into two waves: stateless per-row operator →
    // accumulated stream output must equal the one-shot batch result
    val input = MemoryStream[(Long, String)](spark)
    input.addData(rows.filter(_._1 % 2 == 0))
    input.addData(rows.filter(_._1 % 2 != 0))
    val out = processAll(
      graft.pipeline.Chunking.chunkDocuments(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", size = 16,
        overlap = 4), "chunk_stream")
    assert(out.orderBy("doc_id", "chunk_id").collect()
      .map(_.toSeq.toList).toList == batch)
    assert(batch.nonEmpty)
  }

  test("micro-batch BM25 search = batch search (fixed-index parity)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25stream").toString
    graft.pipeline.Search.writeIndex(docs, "doc_id", "text", path)
    val queries = docs.filter($"doc_id" % 17 === 0)
      .select($"doc_id".as("qid"),
        substring($"text", 1, 40).as("qtext"))
      .as[(Long, String)].collect().toSeq
    assert(queries.size >= 4)
    val found = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Long)]
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps.probeStream(input.toDF().toDF("qid", "qtext"),
        graft.pipeline.Search.readIndex(_, path)) { (ix, batch, _) =>
      graft.pipeline.Search.search(ix, batch, "qid", "qtext", k = 3)
    } { (res, _) =>
        found ++= res.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
    input.addData(queries.filter(_._1 % 2 == 0))
    q.processAllAvailable()
    input.addData(queries.filter(_._1 % 2 != 0))
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.pipeline.Search.searchFromIndex(spark, path,
        queries.toDF("qid", "qtext"), "qid", "qtext", k = 3)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(oneShot.nonEmpty)
    assert(found.toSet == oneShot)
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("micro-batch hybrid search = batch RRF fusion (fixed corpora)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val vecPath = "/root/testdata/sf0.001/embeddings.parquet"
    val emb = spark.read.parquet(vecPath).select($"vec_id", $"embedding")
    val path = java.nio.file.Files
      .createTempDirectory("hybstream").toString
    graft.pipeline.Search.writeIndex(docs, "doc_id", "text", path)
    val queries = docs.filter($"doc_id" % 17 === 0)
      .select($"doc_id".as("qid"), substring($"text", 1, 40).as("qtext"))
      .join(emb.select($"vec_id".as("qid"), $"embedding".as("qv")), "qid")
      .as[(Long, String, Seq[Float])].collect().toSeq
    assert(queries.size >= 4)
    val found = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Int)]
    val input = MemoryStream[(Long, String, Seq[Float])](spark)
    val q = StreamOps.probeStream(input.toDF().toDF("qid", "qtext", "qv"),
        s => (graft.pipeline.Search.readIndex(s, path),
          s.read.parquet(vecPath))) {
      case ((ix, vecs), batch, _) =>
        graft.pipeline.Hybrid.hybridSearchFromLoaded(ix, vecs, "vec_id",
          "embedding", batch, "qid", "qtext", "qv", kEach = 5, topK = 3)
    } { (res, _) =>
        found ++= res.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        ()
      }.start()
    input.addData(queries.filter(_._1 % 2 == 0))
    q.processAllAvailable()
    input.addData(queries.filter(_._1 % 2 != 0))
    q.processAllAvailable()
    q.stop()
    // one-shot fusion over the same query set, same legs
    val qdf = queries.toDF("qid", "qtext", "qv")
    val bm = graft.pipeline.Search.searchFromIndex(spark, path,
        qdf, "qid", "qtext", 5)
      .select($"query_id", $"doc_id".as("id"), $"rank")
    val ann = graft.pipeline.Similarity.bruteForceTopK(
        spark.read.parquet(vecPath), "vec_id", "embedding",
        qdf.select("qid", "qv"), "qid", "qv", 5)
      .select($"query_id", $"id", $"rank")
    val oneShot = graft.pipeline.Hybrid
      .rrfFuse(Seq(bm, ann), "query_id", "id", "rank", 60, 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(oneShot.nonEmpty)
    assert(found.toSet == oneShot)
    graft.pipeline.CacheScope.releaseSession(spark)
  }

  test("windowed stats with watermark aggregate per window+key") {
    val input = MemoryStream[(Timestamp, Long, Double)](spark)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2026-01-01 00:00:30")
    val t2 = Timestamp.valueOf("2026-01-01 00:01:30")
    input.addData((t0, 1L, 2.0), (t1, 1L, 3.0), (t2, 1L, 5.0))
    val stream = input.toDF().toDF("ts", "user_id", "value")
    val out = processAll(StreamOps.windowedStats(stream, "ts", "user_id",
      "value"), "win_stream", mode = "complete")
    val rows = out.select("n_events", "sum_value")
      .orderBy("n_events").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 5.0), (2L, 5.0)))
  }

  test("running per-key state across micro-batches") {
    val input = MemoryStream[(Long, Double)](spark)
    val stream = input.toDF().toDF("user_id", "value")
    val q = StreamOps.runningPerKey(stream, "user_id", "value")
      .writeStream.format("memory").queryName("state_stream")
      .outputMode("append").start()
    input.addData((7L, 1.0), (7L, 2.0), (8L, 10.0))
    q.processAllAvailable()
    input.addData((7L, 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("state_stream")
      .orderBy("key", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(rows == List((7L, 2L, 3.0), (7L, 3L, 7.0), (8L, 1L, 10.0)))
  }

  test("micro-batch curation = batch curate per wave") {
    import graft.pipeline.{CacheScope, Curation}
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // two waves; wave 2 contains an exact copy + a near copy of its own
    // rows so the dedup stages fire WITHIN the micro-batch
    val w1 = corpus.filter($"doc_id" < 100).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val base2 = corpus.filter($"doc_id" >= 100 && $"doc_id" < 200)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val w2 = base2 ++
      base2.filter(_._1 % 10 == 0).map { case (id, t) => (id + 10000, t) } ++
      base2.filter(_._1 % 20 == 0)
        .map { case (id, t) => (id + 20000, t + " zz qq xx") }

    val cfg = Curation.Config(nearDup = Curation.NearDupStrategy.Ngram(maxDocFreq = 0))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map.empty[Long,
      Set[(Long, String, String)]]
    val q = StreamOps.probeStream(input.toDF().toDF("doc_id", "text"),
        _ => ()) { (_, batch, scope) =>
      Curation.curate(batch, "doc_id", "text", cfg, scope)
    } { (audit, batchId) =>
        got(batchId) = audit.collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null else r.getString(2))).toSet
        ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()

    def batchAudit(rows: Seq[(Long, String)]): Set[(Long, String, String)] =
      CacheScope.withScope { scope =>
        Curation.curate(rows.toDF("doc_id", "text"), "doc_id", "text",
            cfg, scope)
          .collect().map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null else r.getString(2))).toSet
      }
    assert(got(0L) == batchAudit(w1))
    assert(got(1L) == batchAudit(w2))
    assert(got(1L).exists(_._2 == Curation.ExactDup))
  }

  test("micro-batch exact dedup against the persisted content-hash index") {
    import graft.pipeline.Dedup
    val path = java.nio.file.Files
      .createTempDirectory("stream_exact_idx").toString
    val corpus = Seq((1L, "alpha text"), (2L, "beta text"),
      (3L, "alpha text")).toDF("doc_id", "text")
    Dedup.writeExactIndex(corpus, "doc_id", "text", path)
    val w1 = Seq((10L, "alpha text"), (11L, "fresh one"))
    val w2 = Seq((12L, "fresh two"), (13L, "fresh two"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, String, Long)]]
    val q = StreamOps.probeStream(input.toDF().toDF("doc_id", "text"),
        Dedup.loadExactIndex(_, path)) { (ix, batch, _) =>
      Dedup.exactKeepFromLoaded(ix, batch, "doc_id", "text")
    } { (decisions, batchId) =>
        got(batchId) = decisions.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    assert(got(0L) == Set((10L, "dup_of_corpus", 1L), (11L, "new", 11L)))
    assert(got(1L) == Set((12L, "new", 12L), (13L, "dup_in_batch", 12L)))
  }

  test("micro-batch boilerplate line removal against the line index") {
    import graft.pipeline.LineDedup
    val path = java.nio.file.Files
      .createTempDirectory("stream_line_idx").toString
    // 'common header' recurs in 3 corpus docs; the unique lines do not
    val corpus = Seq((1L, "common header\nbody one"),
      (2L, "common header\nbody two"),
      (3L, "common header\nbody three")).toDF("doc_id", "text")
    LineDedup.writeLineIndex(corpus, "doc_id", "text", path)
    val w1 = Seq((10L, "common header\nfresh body"))
    val w2 = Seq((11L, "common header"), (12L, "all original"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, String, Long, Long)]]
    val q = StreamOps.probeStream(input.toDF().toDF("doc_id", "text"),
        LineDedup.loadLineIndex(_, path)) { (ix, batch, _) =>
      LineDedup.dropBoilerplateFromLoaded(ix, batch, "doc_id", "text",
        maxDocFreq = 2)
    } { (rewritten, batchId) =>
      got(batchId) = rewritten.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    assert(got(0L) == Set((10L, "fresh body", 2L, 1L)))
    assert(got(1L) == Set((11L, "", 1L, 1L), (12L, "all original", 1L, 0L)))
    // micro-batch accumulation equals the batch FromIndex contract
    val both = (w1 ++ w2).toDF("doc_id", "text")
    val batch = LineDedup.dropBoilerplateFromIndex(spark, path, both,
      "doc_id", "text", 2).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert((got(0L) ++ got(1L)) == batch)
  }

  test("micro-batch span detection against the persisted window index") {
    import graft.pipeline.SpanDedup
    val path = java.nio.file.Files
      .createTempDirectory("stream_span_idx").toString
    def run(r: Range) = r.map(i => s"t$i").mkString(" ")
    val corpus = Seq((1L, run(0 until 10))).toDF("doc_id", "text")
    SpanDedup.writeSpanIndex(corpus, "doc_id", "text", path,
      windowTokens = 4)
    val w1 = Seq((10L, s"a1 a2 ${run(2 until 8)} a3"))
    val w2 = Seq((11L, "b1 b2 b3 b4 b5 b6"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Int, Int)]]
    val q = StreamOps.probeStream(input.toDF().toDF("doc_id", "text"),
        SpanDedup.loadSpanIndex(_, path)) { (ix, batch, scope) =>
      SpanDedup.duplicateSpansFromLoaded(ix, batch, "doc_id", "text", scope)
    } { (spans, batchId) =>
        got(batchId) = spans.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    assert(got(0L) == Set((10L, 2, 8))) // corpus segment at tokens 2..7
    assert(got(1L) == Set.empty) // clean batch
  }

  test("contamination runs per micro-batch against a fixed benchmark") {
    import graft.pipeline.Curation
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon zeta"))
      .toDF("text")
    val w1 = Seq((1L, "alpha beta gamma delta tail one"),
      (2L, "nothing shared here at all today"))
    val w2 = Seq((3L, "alpha beta gamma delta epsilon zeta"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Int, Int)]]
    val q = StreamOps.probeStream(input.toDF().toDF("doc_id", "text"),
        _ => bench) { (b, batch, _) =>
      Curation.contamination(batch, b, "doc_id", "text", "text")
    } { (report, batchId) =>
      got(batchId) = report.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    def batchReport(rows: Seq[(Long, String)]): Set[(Long, Int, Int)] =
      Curation.contamination(rows.toDF("doc_id", "text"), bench,
          "doc_id", "text", "text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got(0L) == batchReport(w1))
    assert(got(1L) == batchReport(w2))
    // the fully-contained doc overlaps on every one of its shingles
    assert(got(1L) == Set((3L, 4, 4)))
    // the clean doc never appears
    assert(!got(0L).exists(_._1 == 2L))
  }

  test("micro-batch as-of join against a static right = batch join") {
    import graft.pipeline.Temporal
    val quotes = Seq(("A", 90L, 1.0), ("A", 200L, 2.0), ("B", 60L, 9.0))
      .toDF("sym", "q_ts", "px")
    val w1 = Seq(("A", 100L, 1L), ("B", 50L, 2L))
    val w2 = Seq(("A", 205L, 3L), ("A", 95L, 4L)) // 95 < wave-1's 100:
    // out-of-order arrival across batches must not matter (row-local)
    val input = MemoryStream[(String, Long, Long)](spark)
    val found = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Double])]
    val q = StreamOps.probeStream(
        input.toDF().toDF("sym", "t_ts", "trade_id"), _ => quotes) {
      (right, batch, _) =>
        Temporal.asofJoin(batch, right, Seq("sym"), "t_ts", "q_ts")
    } { (res, _) =>
      found ++= res.select("trade_id", "px").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      ()
    }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    val oneShot = Temporal.asofJoin(
        (w1 ++ w2).toDF("sym", "t_ts", "trade_id"), quotes,
        Seq("sym"), "t_ts", "q_ts")
      .select("trade_id", "px").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(found.toSet == oneShot)
    assert(found.size == 4) // left join: every trade kept exactly once
  }

  test("sessionWindowStats: batch parity with sessionStats, stream closes sessions") {
    import graft.pipeline.Temporal
    // gaps strictly off the 10s boundary — the one tick where
    // session_window (diff < gap) and sessionize (diff <= gap) differ
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq((1L, ts(0)), (1L, ts(5)), (1L, ts(30)), (2L, ts(7)))
      .toDF("user_id", "ts")
    val native = StreamOps.sessionWindowStats(ev, "user_id", "ts",
        gap = "10 seconds")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(2))).toSet
    val labeled = Temporal.sessionStats(ev, Seq("user_id"), "ts",
        gapMicros = 10000000L)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(2))).toSet
    assert(native == labeled &&
      native == Set((1L, 0L, 2L), (1L, 30L, 1L), (2L, 7L, 1L)))

    // streaming: sessions close once the watermark passes last+gap —
    // a far-future sentinel on another key advances it
    val input = MemoryStream[(Long, Timestamp)](spark)
    val stream = StreamOps.sessionWindowStats(
      input.toDF().toDF("user_id", "ts"), "user_id", "ts",
      gap = "10 seconds", delay = "1 second")
    val q = stream.writeStream.format("memory").queryName("swstats")
      .outputMode("append").start()
    input.addData(Seq((1L, ts(0)), (1L, ts(5)), (2L, ts(7))))
    q.processAllAvailable()
    input.addData(Seq((99L, ts(10000)))) // watermark → 9999s-1s
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("swstats")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(closed == Set((1L, 2L), (2L, 1L)), closed.toString)
  }

  test("stream-maintained bottom-k sidecar == build-at-once sketch") {
    import graft.pipeline.BottomK
    val path = java.nio.file.Files
      .createTempDirectory("bkstream").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars")
    BottomK.writeSketch(docs.limit(0), "doc_id", "n_chars", k = 50,
      path)
    val rows = docs.as[(Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long)](spark)
    val q = StreamOps.foldStream[org.apache.spark.sql.Row](
        input.toDF().toDF("doc_id", "n_chars")) { (batch, _, st) =>
      BottomK.updateSketch(batch.sparkSession, path, batch, st)
    }.start()
    Seq(rows.take(30), rows.slice(30, 60), rows.drop(60)).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    // idempotent: re-fold an already-folded wave
    input.addData(rows.take(30)); q.processAllAvailable()
    q.stop()
    val grid = (df: org.apache.spark.sql.DataFrame) => df
      .select("h", "v").collect().map(_.toSeq.toList).sortBy(_.toString)
      .toList
    assert(grid(BottomK.readSketch(spark, path)) ==
      grid(BottomK.sketch(docs, "doc_id", "n_chars", k = 50)))
  }

  /** A writer that appends each micro-batch to the vector index at
    * `path` under its `foreachBatch` id (`append(spark, path, batch,
    * id)`), so a batch re-run from a checkpoint overwrites its own delta.
    */
  private def appendStream(append: (org.apache.spark.sql.SparkSession,
      String, org.apache.spark.sql.DataFrame, Option[Long]) => Unit)(
      stream: org.apache.spark.sql.DataFrame, path: String) =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        append(batch.sparkSession, path, batch, Some(batchId))
    }

  /** The 60 8-dim vectors the append tests index. */
  private lazy val appendRows = (0 until 60).map { i =>
    (i.toLong, Seq.tabulate(8)(j => (((i * 13 + j * 7) % 32) - 16).toFloat))
  }
  private lazy val appendCorpus = appendRows.toDF("id", "v")
    .select($"id", $"v".cast("array<float>").as("v"))

  /** Writes a vector index over the first 20 of 60 rows, appends the
    * rest through `stream` in two micro-batches, and checks that it
    * serves what an index written at once over all 60 rows serves.
    */
  private def appendStreamServesBuildAtOnce(family: String,
      write: (org.apache.spark.sql.DataFrame, String) => Unit,
      stream: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row],
      serve: (String, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): Unit = {
    val dirBase = java.nio.file.Files
      .createTempDirectory("appendstream").toString
    val (rows, corpus) = (appendRows, appendCorpus)
    val queries = corpus.filter($"id" < 3)
      .select($"id".as("qid"), $"v".as("qv"))
    def served(path: String) = serve(path, queries)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList

    val once = dirBase + "/once"
    write(corpus, once)
    val maintained = dirBase + "/maintained"
    write(corpus.filter($"id" < 20), maintained)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = stream(input.toDF().toDF("id", "v"), maintained).start()
    Seq(rows.slice(20, 40), rows.drop(40)).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    q.stop()
    assert(served(maintained) == served(once),
      s"stream-maintained $family index diverges from build-at-once")
  }

  test("stream-maintained ivf-pq index serves bit-identical to a " +
      "build-at-once index") {
    import graft.pipeline.ProductQuant
    val coarse = ProductQuant.plantedCoarse(4, 8)
    val cb = ProductQuant.plantedCodebook(2, 4, 8)
    appendStreamServesBuildAtOnce("ivf-pq",
      (df, path) => ProductQuant.writeIvfPqIndex(df, "id", "v", coarse, cb,
        path, residuals = true),
      appendStream(ProductQuant.appendToIvfPqIndex(_, _, _, "id", "v", _)),
      ProductQuant.ivfPqTopKFromIndex(spark, _, _, "qid", "qv", k = 5,
        nProbe = 4))
  }

  test("stream-maintained ivf and pq indexes serve bit-identical to " +
      "build-at-once indexes") {
    import graft.pipeline.{ProductQuant, Similarity}
    val centroids = ProductQuant.plantedCoarse(4, 8)
    appendStreamServesBuildAtOnce("quantized ivf",
      (df, path) => Similarity.writeIvfIndex(df, "id", "v", centroids,
        path, quantize = true, recallSampleN = 0),
      appendStream(Similarity.appendToIvfIndex(_, _, _, "id", "v", _)),
      Similarity.ivfTopKFromIndex(spark, _, _, "qid", "qv", k = 5,
        nProbe = 4))
    val cb = ProductQuant.plantedCodebook(2, 4, 8)
    appendStreamServesBuildAtOnce("pq",
      (df, path) => ProductQuant.writePqIndex(df, "id", "v", cb, path,
        recallSampleN = 0),
      appendStream(ProductQuant.appendToPqIndex(_, _, _, "id", "v", _)),
      ProductQuant.adcTopKFromIndex(spark, _, _, "qid", "qv", k = 5))
  }

  test("stream-maintained hll sidecar == direct fold; replay no-op; " +
      "estimates near truth") {
    import graft.pipeline.Sketches
    val base = java.nio.file.Files
      .createTempDirectory("hllstream").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val waves = Seq(rows.take(40), rows.drop(40))
    def toDf(w: Seq[(Long, String)]) = w.toDF("doc_id", "text")
    val est = (p: String) => Sketches.estimates(spark, p)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    Sketches.writeSketches(docs.limit(0), Seq("doc_id", "text"),
      s"$base/stream")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps.foldStream[org.apache.spark.sql.Row](
        input.toDF().toDF("doc_id", "text")) { (batch, _, st) =>
      Sketches.updateSketches(batch.sparkSession, s"$base/stream", batch, st)
    }.start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }

    // the stream fold agrees with the SAME waves folded directly to
    // within HLL tolerance — exact equality is NOT the contract: even
    // identical fold sequences can differ by a few counts because
    // sparse-mode promotion depends on the batch's PARTITIONING
    // (multi-partition aggregates partial-merge and promote earlier)
    Sketches.writeSketches(docs.limit(0), Seq("doc_id", "text"),
      s"$base/direct")
    waves.foreach(w =>
      Sketches.updateSketches(spark, s"$base/direct", toDf(w)))
    val direct = est(s"$base/direct")
    est(s"$base/stream").foreach { case (c, e) =>
      assert(math.abs(e - direct(c)).toDouble / direct(c) < 0.02,
        s"$c: stream $e vs direct ${direct(c)}")
    }

    // a replayed wave introduces no NEW items: estimates stay within
    // HLL tolerance (promotion on the extra union can move them a few
    // counts — register max is set-stable, the estimator mode is not)
    val beforeReplay = est(s"$base/stream")
    input.addData(waves.head); q.processAllAvailable()
    q.stop()
    est(s"$base/stream").foreach { case (c, e) =>
      assert(math.abs(e - beforeReplay(c)).toDouble /
        beforeReplay(c) < 0.02, s"$c: replay moved $e from " +
        s"${beforeReplay(c)}")
    }

    // and estimates land within HLL tolerance of exact distinct counts
    val exact = Map("doc_id" -> rows.map(_._1).distinct.size,
      "text" -> rows.map(_._2).distinct.size)
    est(s"$base/stream").foreach { case (c, e) =>
      assert(math.abs(e - exact(c)).toDouble / exact(c) < 0.05,
        s"$c: est $e vs exact ${exact(c)}")
    }
  }

  test("stream-maintained bloom sidecar == build-at-once filter") {
    import graft.pipeline.Bloom
    val path = java.nio.file.Files
      .createTempDirectory("bloomstream").toString
    val all = (0L until 600L).map(i => "k" + i)
    Bloom.writeFilter(Seq.empty[String].toDF("key"), "key",
      numBits = 4096, numHashes = 5, path)
    val input = MemoryStream[String](spark)
    val q = StreamOps.foldStream[org.apache.spark.sql.Row](
        input.toDF().toDF("key")) { (batch, _, st) =>
      Bloom.updateFilter(batch.sparkSession, path, batch, "key", st)
    }.start()
    input.addData(all.take(200)); q.processAllAvailable()
    input.addData(all.slice(200, 400)); q.processAllAvailable()
    input.addData(all.drop(400)); q.processAllAvailable()
    q.stop()
    val folded = Bloom.readFilter(spark, path)
    val once = Bloom.build(all.toDF("key"), "key", 4096, 5)
    // OR-mergeable: word arrays bit-identical to the one-shot build
    assert(folded.words.toSeq == once.words.toSeq)
    assert(all.toDF("key")
      .filter(!folded.mightContain(col("key"))).count() == 0)
  }

  test("stream-maintained SHARDED bloom == build-at-once filter, " +
      "replayed batch a no-op, generations stay shard-partitioned") {
    import graft.pipeline.ShardedBloom
    val path = java.nio.file.Files
      .createTempDirectory("shbloomstream").toString + "/f"
    val all = (0L until 600L).map(i => "k" + i)
    // seed with a nonzero subset (an empty partitionBy sidecar has no
    // readable schema); the subset replays through the stream — OR is
    // idempotent, so the final filter is the one-shot build regardless
    ShardedBloom.writeFilter(all.take(50).toDF("key"), "key",
      numShards = 7, bitsPerShard = 4096, numHashes = 5, path)
    val input = MemoryStream[String](spark)
    val q = StreamOps.foldStream[(Int, Int, Int)](
        input.toDF().toDF("key")) { (batch, _, st) =>
      ShardedBloom.updateFilter(batch.sparkSession, path, batch, "key", st)
    }.start()
    input.addData(all.take(200)); q.processAllAvailable()
    input.addData(all.slice(200, 400)); q.processAllAvailable()
    input.addData(all.drop(400)); q.processAllAvailable()
    // explicit replay of the middle batch: bit-level no-op
    input.addData(all.slice(200, 400)); q.processAllAvailable()
    q.stop()
    val folded = ShardedBloom.readFilter(spark, path)
    val once = ShardedBloom.build(all.toDF("key"), "key", 7, 4096, 5)
    assert(folded.words.map(_.toSeq).toSeq ==
      once.words.map(_.toSeq).toSeq)
    // the maintained generation keeps the distributed-fold layout
    val shardDirs = new java.io.File(s"$path/words").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty, "stream fold lost the shard layout")
  }

  test("stream-maintained count-min grid == build-at-once sketch") {
    import graft.pipeline.CountMin
    val path = java.nio.file.Files
      .createTempDirectory("cmsstream").toString
    CountMin.writeSketch(Seq.empty[String].toDF("tok"), "tok",
      depth = 4, width = 256, path)
    val toks = for { i <- 1 to 40; _ <- 1 to i } yield "t" + i
    val input = MemoryStream[String](spark)
    val q = StreamOps.cmsUpdateStream(
      input.toDF().toDF("tok"), path).start()
    input.addData(toks.take(300)); q.processAllAvailable()
    input.addData(toks.drop(300)); q.processAllAvailable()
    q.stop()
    val (cells, d, w) = CountMin.readSketch(spark, path)
    assert(d == 4 && w == 256)
    val grid = (df: org.apache.spark.sql.DataFrame) => df
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sorted.toList
    // counts-additive: cell grid bit-identical to the one-shot sketch
    assert(grid(cells.select("r", "c", "cnt")) ==
      grid(CountMin.sketch(toks.toDF("tok"), "tok", 4, 256)
        .select("r", "c", "cnt")))
    // and estimates over the folded grid never underestimate
    val est = CountMin.estimate(cells,
        (1 to 40).map(i => "t" + i).toDF("tok"), "tok", 4, 256)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    (1 to 40).foreach { i =>
      assert(est("t" + i) >= i.toLong, s"t$i underestimated")
    }
  }

  /** Runs `writer` over a file feed with a real checkpoint in `dir`,
    * landing the four `files` (one record per line) a batch at a time:
    * batches 0 and 1, then batch 1's commit is lost and the restarted
    * stream re-runs batch 1 under its id before it takes files 2 and 3.
    */
  private def restartReplay(dir: java.nio.file.Path, files: Seq[Seq[String]],
      feed: String => org.apache.spark.sql.DataFrame)(
      writer: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): Unit = {
    import java.nio.file.Files
    assert(files.size == 4)
    val (feedDir, ckpt) = (dir.resolve("feed"), dir.resolve("ckpt"))
    Files.createDirectories(feedDir)
    def land(i: Int): Unit = Files.write(feedDir.resolve(s"part-$i.txt"),
      files(i).mkString("", "\n", "\n").getBytes("UTF-8"))
    def run(landing: Seq[Int]): Unit = {
      val q = writer(feed(feedDir.toString))
        .option("checkpointLocation", ckpt.toString).start()
      try landing.foreach { i => land(i); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(0, 1))
    val commits = ckpt.resolve("commits")
    Seq("1", ".1.crc").foreach(f => Files.delete(commits.resolve(f)))
    run(Seq(2, 3))
    assert(Files.exists(commits.resolve("1")), "batch 1 was not re-run")
  }

  test("count-min restart replay: a batch re-run from a real checkpoint " +
      "after its commit was lost is counted once") {
    import graft.pipeline.CountMin
    val dir = java.nio.file.Files.createTempDirectory("cmsrestart")
    val path = dir.resolve("cms").toString
    CountMin.writeSketch(Seq.empty[String].toDF("tok"), "tok",
      depth = 4, width = 256, path)
    val toks = for { i <- 1 to 40; _ <- 1 to i } yield "t" + i
    restartReplay(dir, toks.grouped(205).toSeq,
        spark.readStream.text(_).toDF("tok")) {
      StreamOps.cmsUpdateStream(_, path)
    }
    val grid = (df: org.apache.spark.sql.DataFrame) => df
      .select("r", "c", "cnt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toList
    assert(grid(CountMin.readSketch(spark, path)._1) ==
      grid(CountMin.sketch(toks.toDF("tok"), "tok", 4, 256)))
  }

  test("BM25 restart replay: a batch re-run from a real checkpoint after " +
      "its commit was lost is folded once") {
    import graft.pipeline.Search
    val dir = java.nio.file.Files.createTempDirectory("bm25restart")
    val path = dir.resolve("idx").toString
    val corpus = (1L to 60L).map(i =>
      (i, s"term${i % 7} term${i % 5} term${i % 3} filler$i"))
    Search.writeIndex(corpus.take(20).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val json = corpus.drop(20).map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t"}""" }
    restartReplay(dir, json.grouped(10).toSeq,
        spark.readStream.schema("doc_id long, text string").json(_)) {
      StreamOps.bm25UpdateStream(_, path, "doc_id", "text")
    }
    val once = dir.resolve("once").toString
    Search.writeIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", once)
    val queries = Seq((1L, "term0 term2"), (2L, "term4 filler10"),
      (3L, "filler45 term6")).toDF("qid", "qtext")
    def topK(p: String) = Search.searchFromIndex(spark, p, queries,
        "qid", "qtext", k = 5)
      .select("query_id", "rank", "doc_id", "score_q").collect()
      .map(_.toSeq.toList).sortBy(_.toString).toList
    assert(topK(path).nonEmpty && topK(path) == topK(once))
  }

  test("IVF-PQ restart replay: a batch re-run from a real checkpoint " +
      "overwrites its own delta; the index serves bit-identical to " +
      "build-at-once") {
    import graft.pipeline.ProductQuant
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrestart")
    val coarse = ProductQuant.plantedCoarse(4, 8)
    val cb = ProductQuant.plantedCodebook(2, 4, 8)
    def write(df: org.apache.spark.sql.DataFrame, p: String): Unit =
      ProductQuant.writeIvfPqIndex(df, "id", "v", coarse, cb, p,
        residuals = true)
    val path = dir.resolve("idx").toString
    write(appendCorpus.filter($"id" < 20), path)
    val json = appendRows.drop(20).map { case (id, v) =>
      s"""{"id":$id,"v":[${v.mkString(",")}]}""" }
    restartReplay(dir, json.grouped(10).toSeq,
        spark.readStream.schema("id long, v array<float>").json(_)) {
      appendStream(ProductQuant.appendToIvfPqIndex(_, _, _, "id", "v", _))(
        _, path)
    }
    val deltas = new java.io.File(s"$path.delta").list()
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(deltas == (0 to 3).map(i => s"batch=$i"), deltas.toString)
    val once = dir.resolve("once").toString
    write(appendCorpus, once)
    def served(p: String) = ProductQuant.ivfPqTopKFromIndex(spark, p,
        appendCorpus.filter($"id" < 3).select($"id".as("qid"),
          $"v".as("qv")), "qid", "qv", k = 5, nProbe = 4)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(served(path).nonEmpty && served(path) == served(once))
  }

  test("probeStream loads its handle at the first batch: building the " +
      "writer runs no job and needs no sidecar; the first batch then " +
      "fails naming the missing path") {
    import graft.pipeline.KMeans
    val dir = java.nio.file.Files.createTempDirectory("lazyload").toString
    val model = KMeans.train(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("id", "vec"), "id", "vec", k = 2, iters = 1)
    KMeans.writeModel(spark, model, s"$dir/model")
    def assignStream(modelPath: String,
        input: MemoryStream[(Long, Seq[Float])]) =
      StreamOps.probeStream(input.toDF().toDF("id", "vec"),
          KMeans.readModel(_, modelPath)) { (m, batch, _) =>
        KMeans.assign(batch, "vec", m)
      } { (res, _) => res.collect(); () }
    // the model is read when the first batch runs, not when the writer
    // is built, for an existing and a missing sidecar alike
    val (_, present) = graft.JobCount.of(spark)(
      assignStream(s"$dir/model", MemoryStream[(Long, Seq[Float])](spark)))
    assert(present == 0, s"building over a model ran $present jobs")
    val missing = s"$dir/no_model"
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val (writer, jobs) = graft.JobCount.of(spark)(
      assignStream(missing, input))
    assert(jobs == 0, s"building over a missing model ran $jobs jobs")
    val (minhash, minhashJobs) = graft.JobCount.of(spark)(
      StreamOps.dedupStreamAgainstIndex(
        MemoryStream[(Long, String)](spark).toDF().toDF("doc_id", "text"),
        s"$dir/no_index", "doc_id", "text") { (_, _) => () })
    assert(minhashJobs == 0 && minhash != null)
    val q = writer.start()
    input.addData((1L, Seq(1f, 0f)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable())
    q.stop()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(missing))),
      s"the failure does not name $missing: $e")
  }

  /** A fresh minhash index over the sf0.001 corpus; [[probeBatch]] is
    * near-dups of every 20th corpus document (`mod`) under fresh ids
    * (`offset`).
    */
  private def probeIndex(): String = {
    val path = java.nio.file.Files
      .createTempDirectory("probebudget").toString
    graft.pipeline.Dedup.writeMinhashIndex(probeCorpus, "doc_id", "text",
      path)
    path
  }
  private lazy val probeCorpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")
  private def probeBatch(mod: Long, offset: Long) = probeCorpus
    .filter($"doc_id" % 20 === mod)
    .select(($"doc_id" + offset).as("doc_id"),
      concat($"text", lit(" zz qq xx")).as("text"))
  private def probe(ix: graft.pipeline.Dedup.LoadedMinhashIndex,
      b: org.apache.spark.sql.DataFrame) =
    graft.pipeline.CacheScope.withScope { s =>
      graft.pipeline.Dedup.minhashPairsFromLoaded(ix, b, "doc_id", "text",
        threshold = 0.7, scope = s).collect()
    }

  test("probe job budget: steady-state minhash probe") {
    val ix = graft.pipeline.Dedup.loadMinhashIndex(spark, probeIndex())
    assert(probe(ix, probeBatch(0L, 20000L)).nonEmpty)
    val (pairs, jobs) = graft.JobCount.of(spark)(
      probe(ix, probeBatch(10L, 30000L)))
    assert(pairs.nonEmpty)
    // one kernel pass (the checkpoint's spread exchange), then the
    // skew-guard, candidate and verify stages; a persisted batch frame
    // costs one more job per reference to it in the plan, and so does
    // a second reference to the guard
    assert(jobs <= 8, s"steady-state minhash probe ran $jobs jobs; budget 8")
  }

  test("probe job budget: a fresh handle's first probe runs no more " +
      "jobs than a steady one") {
    // an index of its own: a handle over an index another test probed
    // would find its corpus counts cached already
    val ix = graft.pipeline.Dedup.loadMinhashIndex(spark, probeIndex())
    // the handle's load built its corpus bucket counts, so the first
    // probe's plan does not
    val (_, first) = graft.JobCount.of(spark)(
      probe(ix, probeBatch(0L, 20000L)))
    val (_, steady) = graft.JobCount.of(spark)(
      probe(ix, probeBatch(10L, 30000L)))
    assert(first <= steady, s"first probe ran $first jobs, a steady one $steady")
  }

  test("the minhash probe's plan holds one oversized-bucket aggregate " +
      "and one broadcast of it") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Sum}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val ix = graft.pipeline.Dedup.loadMinhashIndex(spark, probeIndex())
    graft.pipeline.CacheScope.withScope { s =>
      val pairs = graft.pipeline.Dedup.minhashPairsFromLoaded(ix,
        probeBatch(0L, 20000L), "doc_id", "text", threshold = 0.7,
        scope = s)
      assert(pairs.collect().nonEmpty)
      // the plan as submitted: with no bucket over the cap, adaptive
      // execution drops each anti-join, and the guard with it, from the
      // final plan once its broadcast came back empty
      val plan = pairs.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val keys = Seq("band", "bucket")
      // the guard: Σ cnt per bucket over batch ∪ corpus counts
      val guards = plan.collect {
        case a: BaseAggregateExec
            if a.groupingExpressions.map(_.references.head.name) == keys &&
              a.aggregateExpressions.exists(e => e.mode == Final &&
                e.aggregateFunction.isInstanceOf[Sum]) => a
      }
      val broadcasts = plan.collect {
        case b: BroadcastExchangeExec if b.output.map(_.name) == keys => b
      }
      assert(guards.size == 1, s"${guards.size} guard aggregates in\n$plan")
      assert(broadcasts.size == 1,
        s"${broadcasts.size} broadcasts of the guard in\n$plan")
    }
  }

  /** Jobs of a steady-state carried fold: `fold` one batch from disk,
    * then count the next batch's fold, which carries its state.
    */
  private def carriedFoldJobs[P](first: org.apache.spark.sql.DataFrame,
      next: org.apache.spark.sql.DataFrame)(
      fold: (org.apache.spark.sql.DataFrame,
        Option[graft.pipeline.SidecarFold[P]]) =>
        graft.pipeline.SidecarFold[P]): Int = {
    val st = fold(first, None)
    graft.JobCount.of(spark)(fold(next, Some(st)))._2
  }

  private def foldKeys(from: Long, to: Long) = spark.range(from, to)
    .select(concat(lit("k"), $"id").as("key"), ($"id" % 97).as("v"))

  test("fold job budget: a steady-state carried count-min fold") {
    import graft.pipeline.CountMin
    val path = java.nio.file.Files
      .createTempDirectory("cmsbudget").toString
    val toks = for { i <- 1 to 40; _ <- 1 to i } yield "t" + i
    CountMin.writeSketch(toks.take(100).toDF("tok"), "tok",
      depth = 4, width = 256, path)
    val st = CountMin.updateSketch(spark, path,
      toks.slice(100, 400).toDF("tok"), Some(0L))
    // the raw batch cells and the stored cells summed in one exchange,
    // written once by the swap
    val (_, jobs) = graft.JobCount.of(spark)(CountMin.updateSketch(spark,
      path, toks.drop(400).toDF("tok"), Some(1L), carried = Some(st)))
    assert(jobs <= 2, s"carried count-min fold ran $jobs jobs; budget 2")
  }

  test("fold job budget: a steady-state carried BM25 fold") {
    import graft.pipeline.Search
    val path = java.nio.file.Files
      .createTempDirectory("bm25budget").toString + "/idx"
    val corpus = (1L to 60L).map(i =>
      (i, s"term${i % 7} term${i % 5} term${i % 3} filler$i"))
    Search.writeIndex(corpus.take(20).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val st = Search.updateIndex(spark, path,
      corpus.slice(20, 40).toDF("doc_id", "text"), "doc_id", "text",
      Some(0L))
    val (_, jobs) = graft.JobCount.of(spark)(Search.updateIndex(spark,
      path, corpus.drop(40).toDF("doc_id", "text"), "doc_id", "text",
      Some(1L), carried = Some(st)))
    // the postings delta (one doc_id exchange, batch stats observed on
    // the write) and the df swap (one tok exchange)
    assert(jobs <= 4, s"carried BM25 fold ran $jobs jobs; budget 4")
  }

  test("fold job budget: steady-state carried bloom and sharded bloom " +
      "folds") {
    import graft.pipeline.{Bloom, ShardedBloom}
    val flat = java.nio.file.Files.createTempDirectory("bloombudget")
      .toString
    Bloom.writeFilter(foldKeys(0, 400), "key", 4096, 5, flat)
    val flatJobs = carriedFoldJobs(foldKeys(400, 800),
        foldKeys(800, 1200)) { (b, st) =>
      Bloom.updateFilter(spark, flat, b, "key", st)
    }
    // the batch sketch's and the merge's word_idx exchanges, then the
    // swap's write
    assert(flatJobs <= 3, s"carried bloom fold ran $flatJobs jobs; budget 3")
    val sharded = java.nio.file.Files.createTempDirectory("shbloombudget")
      .toString
    ShardedBloom.writeFilter(foldKeys(0, 400), "key", 4, 4096, 3, sharded)
    val shardedJobs = carriedFoldJobs(foldKeys(400, 800),
        foldKeys(800, 1200)) { (b, st) =>
      ShardedBloom.updateFilter(spark, sharded, b, "key", st)
    }
    // the batch sketch's and the merge's (shard, word_idx) exchanges,
    // then the swap's shard exchange and write
    assert(shardedJobs <= 4,
      s"carried sharded bloom fold ran $shardedJobs jobs; budget 4")
  }

  test("fold job budget: steady-state carried HLL and bottom-k folds") {
    import graft.pipeline.{BottomK, Sketches}
    val hll = java.nio.file.Files.createTempDirectory("hllbudget").toString
    Sketches.writeSketches(foldKeys(0, 400), Seq("key", "v"), hll)
    val hllJobs = carriedFoldJobs(foldKeys(400, 800),
        foldKeys(800, 1200)) { (b, st) =>
      Sketches.updateSketches(spark, hll, b, st)
    }
    // the batch sketch's global aggregate, the col_name merge, the write
    assert(hllJobs <= 3, s"carried HLL fold ran $hllJobs jobs; budget 3")
    val bk = java.nio.file.Files.createTempDirectory("bkbudget").toString
    BottomK.writeSketch(foldKeys(0, 400), "key", "v", 40, bk)
    val bkJobs = carriedFoldJobs(foldKeys(400, 800),
        foldKeys(800, 1200)) { (b, st) =>
      BottomK.updateSketch(spark, bk, b, st)
    }
    assert(bkJobs <= 3, s"carried bottom-k fold ran $bkJobs jobs; budget 3")
  }

  test("stream-maintained BM25 index serves scores bit-identical to " +
      "build-at-once; replayed batches are skipped") {
    import graft.pipeline.Search
    val path = java.nio.file.Files
      .createTempDirectory("bm25stream").toString + "/idx"
    val corpus = (1L to 60L).map(i =>
      (i, s"term${i % 7} term${i % 5} term${i % 3} filler$i"))
    val queries = Seq((1L, "term0 term2"), (2L, "term4 filler10"))
      .toDF("qid", "qtext")
    // base index over the first third; the rest arrives as a stream
    Search.writeIndex(corpus.take(20).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps.bm25UpdateStream(
      input.toDF().toDF("doc_id", "text"), path, "doc_id", "text")
      .start()
    input.addData(corpus.slice(20, 40)); q.processAllAvailable()
    input.addData(corpus.drop(40)); q.processAllAvailable()
    q.stop()
    val oncePath = java.nio.file.Files
      .createTempDirectory("bm25once").toString + "/idx"
    Search.writeIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      oncePath)
    val norm = (df: org.apache.spark.sql.DataFrame) => df
      .select("query_id", "rank", "doc_id", "score_q").collect()
      .map(_.toSeq.toList).sortBy(_.toString).toList
    val served = Search.searchFromIndex(spark, path, queries,
      "qid", "qtext", k = 5)
    val once = Search.searchFromIndex(spark, oncePath, queries,
      "qid", "qtext", k = 5)
    assert(norm(served) == norm(once) && served.count() > 0)
    // replay guard: re-folding an already-folded batch id is a no-op
    Search.updateIndex(spark, path,
      corpus.slice(20, 40).toDF("doc_id", "text"), "doc_id", "text",
      batchId = Some(0L))
    assert(norm(Search.searchFromIndex(spark, path, queries,
      "qid", "qtext", k = 5)) == norm(once))
    // collection stats folded exactly
    val ix = Search.readIndex(spark, path)
    val ixOnce = Search.readIndex(spark, oncePath)
    assert(ix.nDocs == ixOnce.nDocs && ix.avgDl == ixOnce.avgDl)

    // COMPACTION: deltas fold into a fresh generation; served results,
    // stats and the replay guard all unchanged
    Search.compactIndex(spark, path)
    assert(norm(Search.searchFromIndex(spark, path, queries,
      "qid", "qtext", k = 5)) == norm(once))
    val ixc = Search.readIndex(spark, path)
    assert(ixc.nDocs == ixOnce.nDocs && ixc.avgDl == ixOnce.avgDl)
    // the old flat base and the folded delta dirs are gone
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/postings")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/postings_gen0")))
    // a post-compaction fold still lands, survives the sentinel carry
    // (generation/floor), and serves the new document
    Search.updateIndex(spark, path,
      Seq((1000L, "zzfreshword zzfreshword")).toDF("doc_id", "text"),
      "doc_id", "text")
    val freshHits = Search.searchFromIndex(spark, path,
      Seq((9L, "zzfreshword")).toDF("qid", "qtext"), "qid", "qtext",
      k = 5)
    assert(freshHits.count() == 1 &&
      freshHits.head().getAs[Long]("doc_id") == 1000L)
    assert(Search.readIndex(spark, path).nDocs == ixOnce.nDocs + 1)
  }
}
