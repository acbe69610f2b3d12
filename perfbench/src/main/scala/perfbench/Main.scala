package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Shared state of one benchmark run: the session, the tracer and the
  * counters, the output checks and the samples each workload records.
  */
final class Run(val spark: SparkSession, val seed: Long, val traced: Boolean,
    val work: java.io.File) {
  val tracer = new Tracer(spark.sparkContext)
  val jobs = new SparkCounters
  val streams = new StreamCounters
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }
  var attempted = 0L
  var failed = 0L
  private val mismatches = mutable.ArrayBuffer.empty[String]
  /** (request kind, traced, seconds) for every timed request. */
  val samples = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
  /** Codegen deltas summed over traced requests. */
  var codegenClasses = 0L
  var codegenBytes = 0.0
  var codegenMs = 0.0
  var tracedRequests = 0

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { mismatches += what; System.err.println(s"CHECK FAILED: $what") }
  def checkFailures: Seq[String] = mismatches.toSeq

  /** One timed request of `kind`. In a traced run every other request of
    * a kind is traced, so the untraced ones give the tracing overhead.
    * A request that throws counts as failed and is not sampled.
    */
  def request[A](kind: String, id: String, traceable: Boolean = true)(
      body: => A): Option[A] = {
    val on = traced && traceable && samples.count(_._1 == kind) % 2 == 0
    tracer.enabled = on
    tracer.request = s"$kind#$id"
    val cg0 = if (on) Codegen.snap() else null
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(s"request.$kind")(body)
      samples += ((kind, on, (System.nanoTime() - t0) / 1e9))
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"request $kind/$id failed: $e\n  at " +
          e.getStackTrace.take(6).mkString("\n  at "))
        None
    } finally {
      if (on) {
        val (c, b, ms) = Codegen.delta(cg0, Codegen.snap())
        codegenClasses += c; codegenBytes += b; codegenMs += ms
        tracedRequests += 1
      }
      tracer.enabled = false
    }
  }

  /** Wall seconds of the untraced samples of `kind` (all, if untraced). */
  def times(kind: String): Vector[Double] =
    samples.collect { case (k, on, s) if k == kind && !on => s }.toVector

  def tracedTimes(kind: String): Vector[Double] =
    samples.collect { case (k, true, s) if k == kind => s }.toVector

  /** Median traced / median untraced request time - 1, over the request
    * kinds that have both.
    */
  def overheadFrac: Double = {
    val ratios = samples.map(_._1).distinct.flatMap { k =>
      val (a, b) = (tracedTimes(k), times(k))
      if (a.nonEmpty && b.nonEmpty) Some(Stats.median(a) / Stats.median(b))
      else None
    }
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios.toSeq) - 1
  }

  def spansNamed(name: String): Vector[Span] =
    tracer.all.filter(_.name == name)

  /** Total ms of spans named `name`, per traced request. */
  def spanMsPerRequest(name: String): Double =
    if (tracedRequests == 0) 0.0
    else spansNamed(name).map(_.ms).sum / tracedRequests

  /** Median ms of the spans named `name`. */
  def spanMsMedian(name: String): Double = {
    val ms = spansNamed(name).map(_.ms)
    if (ms.isEmpty) 0.0 else Stats.median(ms)
  }

  /** Jobs, tasks and shuffle bytes per call into `layer`: one call is
    * the set of `layer` spans serving one request.
    */
  def layerCounts(layer: String): (Double, Double, Double) = {
    val calls = tracer.all.filter(_.layer == layer).groupBy(_.request)
    if (calls.isEmpty) (0.0, 0.0, 0.0)
    else {
      val ts = calls.values.flatten.flatMap(s => jobs.tally(s"span-${s.id}"))
      (ts.map(_.jobs).sum.toDouble / calls.size,
        ts.map(_.tasks).sum.toDouble / calls.size,
        ts.map(_.shuffleBytes).sum.toDouble / calls.size)
    }
  }

  /** The expression-layer metrics shared by the codec workloads;
    * `planNodes` holds the expression count of each traced plan.
    */
  def exprLayers(planNodes: Seq[Int]): Map[String, Double] = {
    val n = math.max(1, tracedRequests).toDouble
    val (oj, ot, os) = layerCounts("ops")
    val (fj, ft, fs) = layerCounts("functions")
    Map(
      "ops.build_ms" -> spanMsPerRequest("ops.build"),
      "ops.plan_ms" -> spanMsPerRequest("ops.plan"),
      "ops.codegen_ms" -> codegenMs / n,
      "ops.codegen_classes" -> codegenClasses / n,
      "ops.codegen_bytecode_bytes" -> codegenBytes / n,
      "ops.plan_nodes" -> (if (planNodes.isEmpty) 0.0 else planNodes.sum.toDouble / planNodes.size),
      "ops.jobs_per_call" -> oj, "ops.tasks_per_call" -> ot,
      "ops.shuffle_bytes_per_call" -> os,
      "functions.jobs_per_call" -> fj, "functions.tasks_per_call" -> ft,
      "functions.shuffle_bytes_per_call" -> fs)
  }

  /** Expression nodes in `df`'s optimized plan, kept for traced
    * requests only.
    */
  def countPlanNodes(df: org.apache.spark.sql.DataFrame, into: mutable.Buffer[Int]): Unit =
    if (tracer.enabled) into += df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum }.sum

  /** Spark jobs per traced request of `kind`, over all its spans. */
  def jobsPerRequest(kind: String): Double = {
    val reqs = tracer.all.filter(_.kind == kind).groupBy(_.request)
    if (reqs.isEmpty) 0.0
    else reqs.values.flatten.flatMap(s => jobs.tally(s"span-${s.id}"))
      .map(_.jobs).sum.toDouble / reqs.size
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Samples strictly above the q-quantile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }
}

/** A workload: set-up that can be repeated, a timed closed loop with one
  * client, and the metrics it reports.
  */
trait Workload {
  /** Build inputs and fixtures; repeated, and the median is charged to
    * setup_s.
    */
  def setup(): Unit
  /** Warm every call the loop makes once, after the last [[setup]]; its
    * time is added to setup_s.
    */
  def warmup(): Unit = ()
  /** Issue requests until `deadlineNs` and the minimum sample counts. */
  def measure(deadlineNs: Long): Unit
  /** Output checks that need the whole run (per-request checks run in
    * [[measure]]).
    */
  def finish(): Unit = ()
  /** rate_per_s, latency_ms_p50. */
  def endToEnd: (Double, Double)
  /** Every per-layer metric this workload moves; the rest report 0. */
  def perLayer: Map[String, Double]
  /** Named workload figures (value, unit, sample count) for the report. */
  def figures: Seq[(String, Double, String, Int)]
  /** Seed, input sizes, shares and feature mix, for the report. */
  def facts: Seq[(String, String)]
}

object Main {
  val EndToEnd = Seq("setup_s" -> "s", "rate_per_s" -> "1/s",
    "latency_ms_p50" -> "ms")

  val PerLayer = Seq(
    "schema.parse_ms", "schema.resolve_ms",
    "ops.build_ms", "ops.plan_ms", "ops.codegen_ms", "ops.codegen_classes",
    "ops.codegen_bytecode_bytes", "ops.plan_nodes",
    "ops.validate_net_s", "ops.flatten_net_s", "ops.roundtrip_net_s",
    "ops.xflatten_net_s",
    "functions.avro_encode_net_s", "functions.avro_decode_net_s",
    "functions.avro_bytes_per_row",
    "pipeline.probe_ms", "pipeline.bm25_fold_ms", "pipeline.cms_fold_ms",
    "pipeline.probe_jobs", "pipeline.bm25_fold_jobs", "pipeline.cms_fold_jobs",
    "pipeline.index_read_ms", "pipeline.search_jobs",
    "pipeline.sidecar_bytes", "pipeline.bytes_written_per_batch",
    "streaming.trigger_ms", "streaming.engine_ms", "streaming.batches",
    "ops.jobs_per_call", "ops.tasks_per_call", "ops.shuffle_bytes_per_call",
    "functions.jobs_per_call", "functions.tasks_per_call",
    "functions.shuffle_bytes_per_call",
    "pipeline.jobs_per_call", "pipeline.tasks_per_call",
    "pipeline.shuffle_bytes_per_call",
    "schema.ready_ms_p90", "pipeline.search_ms_p75",
    "jvm.gc_s", "jvm.heap_peak_mb", "jvm.peak_rss_mb", "trace.overhead_frac")

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val work = new java.io.File(opt("--work"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "hadoop").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, seed, traced, work)
    val w: Workload = workload match {
      case "codec_bulk" => new CodecBulk(run)
      case "schema_churn" => new SchemaChurn(run)
      case "ingest_stream" => new IngestStream(run)
      case other => sys.error(s"unknown workload $other")
    }
    val setupTimes = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmup = (System.nanoTime() - w0) / 1e9
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    w.measure(t0 + seconds * 1000000000L)
    val measured = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcSeconds - gc0
    w.finish()
    val (rate, p50) = w.endToEnd
    val e2e = Map("setup_s" -> (Stats.median(setupTimes) + warmup), "rate_per_s" -> rate,
      "latency_ms_p50" -> p50)
    val layers = PerLayer.map(_ -> 0.0).toMap ++ w.perLayer ++ Map(
      "jvm.gc_s" -> gc, "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb,
      "trace.overhead_frac" -> run.overheadFrac)
    Report.write(run, workload, w, setupTimes, warmup, measured, e2e, layers)
    val checksFailed = run.checkFailures
    spark.stop()
    val correct = checksFailed.isEmpty && run.failed == 0
    val metrics =
      if (traced) PerLayer.map(k => k -> (layers(k), unitOf(k)))
      else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    println(Report.resultLine(correct, run.attempted, run.failed, metrics))
    sys.exit(if (correct) 0 else 1)
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("bytes") || k.endsWith("_per_row") ||
      k.endsWith("bytes_per_call") || k.endsWith("per_batch")) "bytes"
    else if (k.endsWith("_frac")) "fraction"
    else "count"
}
