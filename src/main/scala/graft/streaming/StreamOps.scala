package graft.streaming

import graft.pipeline.{CacheScope, CountMin, Dedup, Search, SidecarFold}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is batch-only (SURVEY
  * §2.4) and compiles a schema pair once to apply it many times; the
  * stream tier's form of that idea is "load a handle once, apply it per
  * micro-batch" ([[probeStream]]) and "fold each micro-batch into a
  * persisted sidecar" ([[foldStream]]). Stateless batch operators
  * (flatten, chunking) apply to a stream frame as they are. Beside the
  * two combinators sit the stateful streaming aggregations a streaming
  * ingest pipeline needs: watermarks, windowed and session aggregation,
  * `flatMapGroupsWithState`.
  */
object StreamOps {

  /** Apply `probe` to every micro-batch against a fixed handle `load`
    * builds: a persisted index, model or reference sidecar, or any fixed
    * input. The handle loads ONCE, lazily at the first batch, so building
    * the writer runs no Spark job and needs no sidecar on disk yet; a
    * failed load fails that batch, naming what it read. The handle is
    * fixed for the stream's lifetime: fold the sidecar offline and
    * restart the stream to serve the new generation.
    *
    * Each micro-batch runs in its own [[CacheScope]], released after
    * `sink` returns, so an unbounded stream holds at most one batch of
    * intermediates; `sink` must take its terminal action (write or
    * collect) before returning. A probe whose rows depend on the batch
    * row and the handle alone (search, ANN, scoring, an as-of join
    * against a static right side) accumulates to the one-shot batch
    * result under any micro-batch placement. Dedup probes compare each
    * batch with the index and with itself; pairs BETWEEN micro-batches
    * are not compared, so append each batch to the index offline if
    * cross-batch dedup matters.
    */
  def probeStream[H](stream: DataFrame, load: SparkSession => H)(
      probe: (H, DataFrame, CacheScope) => DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    lazy val handle = load(stream.sparkSession)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      CacheScope.withScope { scope =>
        sink(probe(handle, batch, scope), batchId)
      }
    }
  }

  /** Drive a mergeable-sidecar fold ([[SidecarFold]]) from a stream:
    * each micro-batch folds with the state the previous fold returned,
    * so the params, the stored side and the replay guard ride in memory
    * instead of being re-read per micro-batch. A failed fold drops the
    * state, and the next fold re-reads disk.
    *
    * `foreachBatch` is at-least-once under checkpoint recovery, and the
    * batch id passed to `fold` is what makes a replay safe. Idempotent
    * merges (bloom OR, bottom-k union, HLL register max) need no guard:
    * a replayed batch adds nothing. Additive merges (count-min cells,
    * BM25 df and collection stats) persist the last folded id inside
    * the same atomic swap and skip any batch at or below it.
    */
  def foldStream[P](stream: DataFrame)(
      fold: (DataFrame, Long, Option[SidecarFold[P]]) => SidecarFold[P])
      : DataStreamWriter[Row] = {
    var st: Option[SidecarFold[P]] = None
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      try st = Some(fold(batch, batchId, st))
      catch { case e: Throwable => st = None; throw e }
    }
  }

  /** [[probeStream]] against a persisted MINHASH text index
    * ([[graft.pipeline.Dedup.writeMinhashIndex]]): `sink` receives each
    * micro-batch's near-dup pairs (batch id first).
    */
  def dedupStreamAgainstIndex(stream: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    probeStream(stream, Dedup.loadMinhashIndex(_, indexPath)) {
      (ix, batch, scope) => Dedup.minhashPairsFromLoaded(ix, batch, idCol,
        textCol, threshold, scope)
    }(sink)

  /** [[foldStream]] of new documents into a persisted BM25 index
    * ([[graft.pipeline.Search.updateIndex]]); the maintained index
    * serves scores bit-identical to a build-at-once index.
    */
  def bm25UpdateStream(stream: DataFrame, path: String,
      idCol: String, textCol: String): DataStreamWriter[Row] =
    foldStream[Map[String, Long]](stream) { (batch, batchId, st) =>
      Search.updateIndex(batch.sparkSession, path, batch,
        idCol, textCol, batchId = Some(batchId), carried = st)
    }

  /** [[foldStream]] into a persisted count-min grid
    * ([[graft.pipeline.CountMin.updateSketch]]); the maintained grid
    * equals the build-at-once sketch bit-for-bit.
    */
  def cmsUpdateStream(stream: DataFrame, path: String)
      : DataStreamWriter[Row] =
    foldStream[Row](stream) { (batch, batchId, st) =>
      CountMin.updateSketch(batch.sparkSession, path, batch,
        batchId = Some(batchId), carried = st)
    }

  /** Windowed per-key event counts + value sums with a watermark — the
    * canonical streaming aggregation (late data beyond `delay` dropped).
    */
  def windowedStats(stream: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String = "1 minute",
      delay: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))

  /** Native gap-session aggregation over an event-time stream:
    * watermark + `session_window` + count, Spark's built-in streaming
    * session support (state closes `delay` after a session's last
    * event). NOTE the boundary convention differs from
    * [[graft.pipeline.Temporal.sessionize]] by one tick: the batch
    * operator merges rows with `diff <= gap`, `session_window` merges
    * `diff < gap` — identical for every non-exact-boundary gap.
    */
  def sessionWindowStats(stream: DataFrame, keyCol: String,
      tsCol: String, gap: String = "30 minutes",
      delay: String = "2 minutes"): DataFrame =
    stream.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Per-key running session state via flatMapGroupsWithState: emits one
    * update row per input batch per key (running count + sum). The custom
    * state shape the reference's per-record pipeline would need when moved
    * to a stream.
    */
  final case class KeyState(n: Long, sum: Double)
  final case class KeyUpdate(key: Long, n: Long, sum: Double)

  def runningPerKey(stream: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    import stream.sparkSession.implicits._
    val typed = stream.select(col(keyCol).cast("long").as("key"),
      col(valueCol).cast("double").as("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, KeyUpdate](OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Double)],
         state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(0L, 0.0))
          var n = prev.n
          var s = prev.sum
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update(KeyState(n, s))
          Iterator(KeyUpdate(key, n, s))
      }.toDF()
  }
}
