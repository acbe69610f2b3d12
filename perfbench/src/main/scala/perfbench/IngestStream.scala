package perfbench

import graft.pipeline.{CountMin, Dedup, Search}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.util.Random

/** ingest_stream: a seeded corpus is indexed at set-up into persisted
  * minhash, BM25 and count-min sidecars. The loop then lands micro-batches
  * into one file-source feed that three StreamOps writers read at once:
  * the minhash probe, the BM25 fold and the count-min fold. When all
  * three have processed a batch, search requests read the just-updated
  * BM25 index. Writes sit beside reads, and the cost is the fixed cost
  * of Spark jobs per micro-batch rather than codec work.
  *
  * Checks: every planted near-duplicate is reported by the probe, and
  * after the run the maintained BM25 top-k and count-min cells equal an
  * index and a sketch built at once over the same documents.
  */
final class IngestStream(run: Run) extends Workload {
  import IngestStream._
  private val spark = run.spark
  private val rnd = new Random(run.seed)
  private val vocab = Vector.tabulate(Vocab)(i => s"w$i")
  private val corpus: Vector[Doc] = Vector.tabulate(CorpusDocs)(i => doc(i.toLong))
  private var nextId = 1000000L

  private var dir: File = _
  private var queries: Seq[StreamingQuery] = Nil
  private var landed = 0
  private val ingested = mutable.ArrayBuffer.empty[Doc]
  private val planted = mutable.ArrayBuffer.empty[(Long, Long)]
  private val found = mutable.Set.empty[(Long, Long)]
  private val bytesPerBatch = mutable.ArrayBuffer.empty[Double]
  private var sidecarBytes = 0.0
  private var measuredFrom = 0
  private var checksPassed: Map[String, Boolean] = Map.empty

  // skewed word and site draws, so postings and sketch cells vary in size
  private def word(): String = vocab((math.pow(rnd.nextDouble(), 2.0) * Vocab).toInt)
  private def doc(id: Long): Doc = Doc(id, s"site${(math.pow(rnd.nextDouble(), 3.0) * Sites).toInt}",
    Vector.fill(DocWords + rnd.nextInt(DocWords))(word()).mkString(" "))

  private def path(name: String) = new File(dir, name).toString
  private def docsDf(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.site, d.text)), 1), DocSchema)

  /** Fresh sidecars over the corpus in a fresh directory. */
  def setup(): Unit = {
    dir = new File(run.work, s"ingest-${System.nanoTime()}")
    new File(dir, "feed").mkdirs()
    val c = docsDf(corpus)
    Dedup.writeMinhashIndex(c, "doc_id", "text", path("minhash"))
    Search.writeIndex(c, "doc_id", "text", path("bm25"), numFiles = 4)
    CountMin.writeSketch(c, "site", CmsDepth, CmsWidth, path("cms"))
  }

  /** Start the three writers on the last set-up's sidecars, pass one
    * batch through all of them and make the first search.
    */
  override def warmup(): Unit = {
    val feed = spark.readStream.schema(DocSchema).json(path("feed"))
    def start(name: String, w: org.apache.spark.sql.streaming.DataStreamWriter[Row]) =
      w.queryName(name).option("checkpointLocation", path(s"ckpt-$name")).start()
    queries = Seq(
      start("probe", StreamOps.dedupStreamAgainstIndex(feed, path("minhash"),
        "doc_id", "text") { (pairs, _) =>
        val ps = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        found.synchronized(found ++= ps)
      }),
      start("bm25_fold", StreamOps.bm25UpdateStream(feed, path("bm25"), "doc_id", "text")),
      start("cms_fold", StreamOps.cmsUpdateStream(feed, path("cms"))))
    land(batch())
    (1 to WarmSearches).foreach(i => search(queryText()))
    measuredFrom = landed
  }

  /** A micro-batch: new documents plus near-duplicates of indexed ones. */
  private def batch(): Vector[Doc] = Vector.fill(BatchDocs) {
    nextId += 1
    if (rnd.nextDouble() < DupShare) {
      val src = corpus(rnd.nextInt(corpus.size))
      planted.synchronized(planted += ((nextId, src.id)))
      Doc(nextId, src.site, src.text + " " + word())
    } else doc(nextId)
  }

  /** Write the batch as one JSON file, move it into the feed atomically
    * and wait until every writer has processed it.
    */
  private def land(docs: Vector[Doc]): Unit = {
    val tmp = new File(dir, s"tmp-$landed.json")
    val lines = docs.map(d => s"""{"doc_id":${d.id},"site":"${d.site}","text":"${d.text}"}""")
    Files.writeString(tmp.toPath, lines.mkString("", "\n", "\n"))
    Files.move(tmp.toPath, new File(new File(dir, "feed"), s"batch-$landed.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    landed += 1
    ingested ++= docs
    queries.foreach(_.processAllAvailable())
  }

  private def queryText(): String = {
    val d = if (ingested.nonEmpty && rnd.nextBoolean()) ingested(rnd.nextInt(ingested.size))
      else corpus(rnd.nextInt(corpus.size))
    val ws = d.text.split(" ")
    Seq.fill(QueryWords)(ws(rnd.nextInt(ws.length))).mkString(" ")
  }

  private def search(text: String): Array[Row] = {
    val ix = run.tracer.span("pipeline.index_read")(Search.readIndex(spark, path("bm25")))
    run.tracer.span("pipeline.search") {
      Search.search(ix, spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(1L, text)), 1), QuerySchema), "qid", "qtext", k = TopK).collect()
    }
  }

  private def sidecarFiles: Seq[File] =
    Seq("minhash", "bm25", "cms").flatMap(d => walk(new File(dir, d)))
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  /** A fixed number of batches, whatever the deadline: each fold grows
    * the index, so later searches read more, and runs must compare
    * equal index states.
    */
  def measure(deadlineNs: Long): Unit = {
    var b = 0
    while (b < Batches) {
      val docs = batch()
      val t0 = System.currentTimeMillis()
      run.request("batch", b.toString)(land(docs))
      bytesPerBatch += sidecarFiles.filter(_.lastModified >= t0 - 1000).map(_.length).sum.toDouble
      (0 until SearchesPerBatch).foreach { i =>
        val q = queryText()
        run.request("search", s"$b.$i")(search(q)).foreach { rows =>
          run.check(rows.nonEmpty, s"search '$q' returned nothing")
        }
      }
      b += 1
    }
    sidecarBytes = sidecarFiles.map(_.length).sum.toDouble
  }

  override def finish(): Unit = {
    queries.foreach(_.stop())
    val missed = planted.filterNot { case (a, b) => found((a, b)) || found((b, a)) }
    run.check(missed.isEmpty, s"${missed.size} of ${planted.size} planted near-duplicates " +
      s"not reported, e.g. ${missed.take(3)}")
    val all = corpus ++ ingested
    val once = new File(dir, "bm25-once").toString
    Search.writeIndex(docsDf(all), "doc_id", "text", once, numFiles = 4)
    val qs = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq.tabulate(CheckQueries)(i => Row(i.toLong, queryText())), 1), QuerySchema)
    def top(p: String) = Search.searchFromIndex(spark, p, qs, "qid", "qtext", k = TopK)
      .select("query_id", "rank", "doc_id", "score_q").collect().map(_.toSeq.toList)
      .sortBy(_.toString).toList
    val bm25Same = top(path("bm25")) == top(once)
    run.check(bm25Same, "maintained BM25 top-k differs from the index built at once")
    val (cells, d, w) = CountMin.readSketch(spark, path("cms"))
    def grid(df: DataFrame) = df.select("r", "c", "cnt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toList
    val cmsSame = d == CmsDepth && w == CmsWidth &&
      grid(cells) == grid(CountMin.sketch(docsDf(all), "site", CmsDepth, CmsWidth))
    run.check(cmsSame, "maintained count-min cells differ from the sketch built at once")
    checksPassed = Map("near_duplicates_found" -> missed.isEmpty,
      "bm25_topk_equals_build_at_once" -> bm25Same, "cms_cells_equal_build_at_once" -> cmsSame)
  }

  private def batchS = run.times("batch")
  private def searchMs = run.times("search").map(_ * 1000)

  def endToEnd: (Double, Double) = (BatchDocs / Stats.median(batchS), Stats.median(searchMs))

  def figures: Seq[(String, Double, String, Int)] = Seq(
    ("ingest_batch_s_p50", Stats.median(batchS), "s", batchS.size),
    ("ingest_docs_s", BatchDocs * batchS.size / batchS.sum, "docs/s", batchS.size),
    ("search_ms_p50", Stats.median(searchMs), "ms", searchMs.size),
    ("search_ms_p75", Stats.quantile(searchMs, 0.75), "ms", searchMs.size),
    ("search_samples_beyond_p75", Stats.beyond(searchMs, 0.75).toDouble, "count", searchMs.size))

  def perLayer: Map[String, Double] = {
    val progress = run.streams.all.filter(p => p.rows > 0 && p.batchId >= measuredFrom)
    def writer(name: String) = progress.filter(_.query == name)
    def addBatch(name: String) = {
      val ms = writer(name).map(_.durations.getOrElse("addBatch", 0L).toDouble)
      if (ms.isEmpty) 0.0 else Stats.median(ms)
    }
    def jobsPerBatch(name: String) = {
      // a run id's tally also holds its warm-up batch, so divide by all
      // of that run's non-empty batches
      val ids = writer(name).map(_.runId).distinct
      val batches = run.streams.all.count(p => ids.contains(p.runId) && p.rows > 0)
      if (batches == 0) 0.0
      else ids.flatMap(id => run.jobs.tally(id)).map(_.jobs).sum.toDouble / batches
    }
    val trig = progress.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val engine = progress.map(p => (p.durations.getOrElse("triggerExecution", 0L) -
      p.durations.getOrElse("addBatch", 0L)).toDouble)
    val (pj, pt, ps) = run.layerCounts("pipeline")
    val all = (run.times("search") ++ run.tracedTimes("search")).map(_ * 1000)
    Map(
      "pipeline.probe_ms" -> addBatch("probe"),
      "pipeline.bm25_fold_ms" -> addBatch("bm25_fold"),
      "pipeline.cms_fold_ms" -> addBatch("cms_fold"),
      "pipeline.probe_jobs" -> jobsPerBatch("probe"),
      "pipeline.bm25_fold_jobs" -> jobsPerBatch("bm25_fold"),
      "pipeline.cms_fold_jobs" -> jobsPerBatch("cms_fold"),
      "pipeline.index_read_ms" -> run.spanMsMedian("pipeline.index_read"),
      "pipeline.search_jobs" -> run.jobsPerRequest("search"),
      "pipeline.sidecar_bytes" -> sidecarBytes,
      "pipeline.bytes_written_per_batch" -> Stats.median(bytesPerBatch.toSeq),
      "pipeline.jobs_per_call" -> pj, "pipeline.tasks_per_call" -> pt,
      "pipeline.shuffle_bytes_per_call" -> ps,
      "pipeline.search_ms_p75" -> Stats.quantile(all, 0.75),
      "streaming.trigger_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "streaming.engine_ms" -> (if (engine.isEmpty) 0.0 else Stats.median(engine)),
      "streaming.batches" -> progress.size.toDouble)
  }

  def facts: Seq[(String, String)] = Seq[(String, String)](
    "seed" -> run.seed.toString,
    "corpus_docs" -> (s"$CorpusDocs indexed at set-up ($DocWords-${2 * DocWords - 1} words, " +
      s"vocabulary $Vocab, $Sites sites)"),
    "batches" -> (s"${landed - measuredFrom} measured x $BatchDocs docs, " +
      s"$SearchesPerBatch searches after each"),
    "planted_duplicate_share" -> s"$DupShare (${planted.size} planted)",
    "writers" -> "minhash probe, BM25 fold, count-min fold on one file-source feed") ++
    checksPassed.toSeq.map { case (k, v) => s"check.$k" -> v.toString }
}

object IngestStream {
  final case class Doc(id: Long, site: String, text: String)

  val CorpusDocs = 1000
  val DocWords = 30
  val Vocab = 5000
  val Sites = 200
  val BatchDocs = 200
  val DupShare = 0.2
  val Batches = 2
  val SearchesPerBatch = 3
  val WarmSearches = 1
  val QueryWords = 3
  val TopK = 10
  val CheckQueries = 20
  val CmsDepth = 4
  val CmsWidth = 1024
  val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("site", StringType), StructField("text", StringType)))
  val QuerySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qtext", StringType)))
}
