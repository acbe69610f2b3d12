package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One recorded layer call. `parent` is -1 for a root span; `request` is
  * the operation, schema pair or batch the call served.
  */
final case class Span(id: Int, parent: Int, name: String, request: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
  def kind: String = request.takeWhile(_ != '#')
}

/** In-memory span recorder. When disabled, `span` runs its body and
  * records nothing, so traced and untraced runs make the same calls.
  * Every recorded span also becomes the Spark job group of the calling
  * thread, so [[SparkCounters]] can file jobs under the span that
  * submitted them.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  /** Id of the request the calling thread serves, as `kind#n`. */
  @volatile var request = "setup#0"

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get()
      stack.set(id :: outer)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        outer.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        synchronized {
          spans += Span(id, outer.headOption.getOrElse(-1), name, request, t0, t1)
        }
      }
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Span duration minus the part of its interval its children cover. */
  def selfMs: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Vector.empty).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) { covered += (curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += (curE - curS)
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }
}

/** Job, task and shuffle counts from the public listener API, keyed by
  * the job group the submitting thread carried: a span id for calls the
  * benchmark makes, a query run id for streaming micro-batches.
  */
final class SparkCounters extends SparkListener {
  final class Tally { var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L }
  private val byGroup = mutable.Map.empty[String, Tally]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val t = byGroup.getOrElseUpdate(g, new Tally)
    t.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "none"),
      new Tally)
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  def tally(group: String): Option[Tally] = synchronized(byGroup.get(group))
}

/** Per-batch `durationMs` of every streaming query, by query name. */
final class StreamCounters extends StreamingQueryListener {
  import StreamCounters.Batch
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val m = mutable.Map.empty[String, Long]
    d.forEach((k, v) => m(k) = v.longValue)
    synchronized {
      batches += Batch(p.name, p.runId.toString, p.batchId, p.numInputRows, m.toMap)
    }
  }

  def all: Vector[Batch] = synchronized(batches.toVector)
}

object StreamCounters {
  final case class Batch(query: String, runId: String, batchId: Long,
      rows: Long, durations: Map[String, Long])
}

/** Spark's codegen counters: generated classes, their bytecode bytes and
  * compile time. The histograms keep a sample, so byte and time totals
  * are the class-count delta times the sampled mean.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(classes: Long, bytesMean: Double, compiles: Long,
      compileMsMean: Double)

  private def mean(h: com.codahale.metrics.Histogram): Double =
    h.getSnapshot.getMean

  def snap(): Snap = Snap(
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    mean(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE),
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    mean(CodegenMetrics.METRIC_COMPILATION_TIME))

  /** (classes, bytecode bytes, compile ms) generated between two snaps. */
  def delta(a: Snap, b: Snap): (Long, Double, Double) = {
    val classes = b.classes - a.classes
    (classes, classes * b.bytesMean, (b.compiles - a.compiles) * b.compileMsMean)
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
