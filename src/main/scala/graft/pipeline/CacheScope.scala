package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Caller-visible lifecycle for the intermediate caches the dedup /
  * similarity operators pin.
  *
  * Those operators persist shared subtrees (shingle sets, bucket indexes,
  * simhash fingerprints) because both sides of a candidate self-join read
  * them — without the persist the expensive JVM kernels run once per join
  * side. But a lazily returned DataFrame cannot unpersist its own
  * intermediates: the cache only materializes when the CALLER takes a
  * terminal action, so releasing it is necessarily the caller's move. In a
  * long-lived 100 TB pipeline (a daily `minhashPairsIncremental` driver, a
  * bench loop) unreleased intermediates accumulate until the executors
  * thrash on eviction.
  *
  * Three usage tiers:
  *
  *  1. '''Explicit scope''' — pass your own and close it after the action:
  *     {{{
  *     CacheScope.withScope { scope =>
  *       Dedup.minhashPairs(docs, "id", "text", scope = scope)
  *         .write.parquet(out) // terminal action INSIDE the scope
  *     }                       // intermediates unpersisted here
  *     }}}
  *  2. '''Session default''' (what you get when you don't pass a scope):
  *     persists land in a per-SparkSession scope; release them with
  *     [[CacheScope.releaseSession]] after your action. Nothing leaks past
  *     an explicit release, and repeated pipeline iterations that release
  *     between batches hold at most one batch of intermediates.
  *  3. No scope management at all — identical to tiers 1/2 until the
  *     session exits; acceptable for one-shot jobs whose JVM ends with the
  *     query (cluster-mode batch submit), the documented leak otherwise.
  */
final class CacheScope extends AutoCloseable {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val checkpoints = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** Persist `ds` (MEMORY_AND_DISK) and track it for release. */
  private[graft] def persist[T](ds: Dataset[T]): Dataset[T] = synchronized {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    frames += ds
    ds
  }

  /** Local-checkpoint `ds` and track the checkpointed RDD for release.
    * Each reference to a persisted frame in a plan becomes its own cache
    * stage, and so its own job; the checkpoint itself is a plain RDD
    * scan wherever it is referenced. What a plan builds ABOVE each
    * reference is not shared, though: the exchanges over two references
    * to one checkpoint (or persisted frame) are never reused, so each
    * runs its map stage again — reference a checkpoint-derived
    * aggregate once. Its blocks are its only copy: once the scope
    * closes the frame cannot be recomputed, so checkpoint only frames
    * whose terminal action runs before [[close]].
    */
  private[graft] def checkpoint[T](ds: Dataset[T]): Dataset[T] = synchronized {
    val cp = ds.localCheckpoint(eager = false)
    checkpoints ++= cp.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd
    }
    cp
  }

  /** Number of tracked (not yet released) datasets and checkpoints. */
  def trackedCount: Int = synchronized(frames.size + checkpoints.size)

  private[graft] def tracked: List[Dataset[_]] = synchronized(frames.toList)

  private[graft] def trackedCheckpoints: List[RDD[_]] =
    synchronized(checkpoints.toList)

  /** Unpersist every tracked dataset and free every tracked checkpoint's
    * blocks. Idempotent; the scope can be reused afterwards (it simply
    * starts tracking from empty again).
    */
  override def close(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = false))
    frames.clear()
    checkpoints.foreach(_.unpersist(blocking = false))
    checkpoints.clear()
  }
}

object CacheScope {

  /** Sentinel default for operator signatures: resolves to the calling
    * session's shared scope (see [[forSession]]). Never holds frames
    * itself.
    */
  val session: CacheScope = new CacheScope

  private val sessionScopes =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, CacheScope]()

  /** Drop map entries whose session's context has stopped: their cached
    * blocks died with the executors, so only the entry itself leaks —
    * holding the session object, its plans, and the scope alive for the
    * JVM lifetime in long-lived multi-session hosts. Swept on every
    * scope access (the map is tiny; the check is a flag read). No
    * unpersist: there is nothing left to unpersist on a stopped context.
    */
  private def sweepStopped(): Unit = {
    val it = sessionScopes.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey.sparkContext.isStopped) it.remove()
    }
  }

  /** The shared scope default-parameter calls persist into, one per
    * SparkSession (sessions in one JVM don't release each other's caches).
    */
  def forSession(spark: SparkSession): CacheScope = {
    sweepStopped()
    sessionScopes.computeIfAbsent(spark, _ => new CacheScope)
  }

  /** Resolve the sentinel default against the session owning `ds`. */
  private[graft] def resolve(scope: CacheScope, spark: SparkSession): CacheScope =
    if (scope eq session) forSession(spark) else scope

  /** Unpersist everything the default-scope operators cached in `spark`.
    * Call after the terminal action of each pipeline step (the bench and
    * verify harnesses call this between query evaluations).
    */
  def releaseSession(spark: SparkSession): Unit = {
    val s = sessionScopes.remove(spark)
    if (s != null) s.close()
  }

  /** Run `body` with a fresh scope; unpersist its caches afterwards.
    * The terminal action (write/collect/count) must happen inside `body` —
    * a lazily returned DataFrame would recompute uncached after close.
    */
  def withScope[A](body: CacheScope => A): A = {
    val s = new CacheScope
    try body(s) finally s.close()
  }
}
