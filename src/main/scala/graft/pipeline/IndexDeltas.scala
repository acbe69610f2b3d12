package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared batch-append machinery for the persisted vector indexes
  * (flat PQ, cosine IVF, IVF-PQ): a base build plus batch-stamped
  * DELTA directories under `<path>.delta/batch=<id>`, folded into a
  * fresh base generation by compaction.
  *
  * The exactly-once argument, shared by every index on this layout:
  * the delta directory is the ONLY state an append touches, and a
  * replayed batch id OVERWRITES its own directory — nothing is
  * additive, so no replay guard is needed (simpler than
  * [[Search.updateIndex]], whose df sidecar merges additively).
  *
  * Compaction is crash-safe at every window: the new generation
  * (base + deltas, stamped with a `_folded_floor` marker naming the
  * highest folded id) MATERIALIZES to a tmp sibling while the live
  * layout is intact, swaps in via [[SidecarIO.swap]] (whose recovery
  * rule keeps `_prev` until the new base is live), and only then are
  * folded delta dirs dropped — a crash between swap
  * and cleanup leaves stale deltas that readers IGNORE via the marker,
  * and a crash inside the swap leaves `_prev`, which [[rows]] serves.
  */
private[pipeline] object IndexDeltas {

  /** Compaction floor recorded in the base generation (underscore-
    * prefixed so parquet discovery ignores it).
    */
  private val FloorMarker = "_folded_floor"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Batch ids of the `batch=<id>` delta dirs under `root`. */
  private[pipeline] def deltaIds(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLongOption.getOrElse(-1L) }
      .filter(_ >= 0)

  private def readFloor(fs: FileSystem, path: String): Long = {
    val m = new Path(s"$path/$FloorMarker")
    if (!fs.exists(m)) -1L
    else {
      val in = fs.open(m)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Next unused delta id for un-id'd folds: past every live delta AND
    * the compaction floor (a reused id at or below the floor would be
    * ignored by readers).
    */
  def nextAppendId(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    (deltaIds(f, new Path(s"$path.delta")) :+ readFloor(f, path))
      .max + 1L
  }

  /** Land `batch` (already encoded to the index's row layout) as the
    * idempotent delta `<path>.delta/batch=<id>`, partitioned like the
    * base when `partitionCols` is non-empty. The batch materializes to
    * an underscore-prefixed tmp sibling (invisible to [[deltaIds]] and
    * parquet discovery alike) and RENAMES into place, so a concurrent
    * reader listing the delta root never unions a partially-written
    * directory — during a replay's delete+rename window the reader
    * simply serves the pre-replay state (same rows: replays are
    * byte-idempotent by contract).
    */
  def writeDelta(batch: DataFrame, path: String, batchId: Long,
      partitionCols: Seq[String]): Unit = {
    val f = fs(batch.sparkSession, path)
    val tmp = new Path(s"$path.delta/_tmp_batch=$batchId")
    val dst = new Path(s"$path.delta/batch=$batchId")
    f.delete(tmp, true)
    val w = batch.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    f.delete(dst, true)
    if (!f.rename(tmp, dst))
      sys.error(s"delta swap failed: could not rename $tmp to $dst")
  }

  /** A rebuild replaces the whole index: stale deltas from a previous
    * build at this path must not survive into the new one.
    */
  def clearDeltas(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(s"$path.delta"), true)
    ()
  }

  /** Whether any delta batch past the floor is live — readers whose
    * row semantics need a merge (e.g. additive frequency rows) use this
    * to skip the merge aggregation on a compacted/clean index.
    */
  def hasLiveDeltas(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val floor = readFloor(f, SidecarIO.liveOrPrev(spark, path).toString)
    deltaIds(f, new Path(s"$path.delta")).exists(_ > floor)
  }

  /** The stored rows: base build (falling back to the `_prev`
    * generation across compaction's swap crash window) plus live delta
    * batches past the floor, one frame. Partition columns stay
    * partition columns on BOTH sides of the union, so a partition-
    * pruning filter prunes base and delta scans alike.
    *
    * `excludeBatchId` drops one delta from the union — the frame an
    * APPEND must anti-join against when computing batch `id`'s delta:
    * joining against the full rows() would see the batch's OWN earlier
    * write on a replay, compute an empty delta, and overwrite the data
    * away. The delta scan carries the base's schema explicitly, so a
    * legitimately-empty delta directory (a batch with nothing new)
    * reads as zero rows instead of failing schema inference.
    */
  def rows(spark: SparkSession, path: String,
      excludeBatchId: Long = -1L): DataFrame =
    SidecarIO.withDriverListing(spark) {
    val f = fs(spark, path)
    val base = SidecarIO.readWithFallback(spark, path)
    val floor = readFloor(f, SidecarIO.liveOrPrev(spark, path).toString)
    val live = deltaIds(f, new Path(s"$path.delta"))
      .filter(id => id > floor && id != excludeBatchId)
      .sorted
    if (live.isEmpty) base
    else {
      val withBatch = org.apache.spark.sql.types.StructType(
        base.schema.fields :+ org.apache.spark.sql.types.StructField(
          "batch", org.apache.spark.sql.types.LongType))
      val delta = spark.read.option("basePath", s"$path.delta")
        .schema(withBatch)
        .parquet(live.map(id => s"$path.delta/batch=$id"): _*)
      base.unionByName(delta.drop("batch"))
    }
  }

  /** Fold the live deltas into a fresh base generation (see class doc
    * for the crash-safety argument). No-op when nothing is unfolded.
    * `fold` reshapes the union before it lands — identity for
    * distinct-row indexes, a merge aggregation for additive ones (the
    * line index sums per-hash frequencies here, so the folded base
    * equals a rebuild, not a pile of split rows).
    */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      fold: DataFrame => DataFrame = identity): Unit = {
    val f = fs(spark, path)
    val deltaRoot = new Path(s"$path.delta")
    val oldFloor = readFloor(f, path)
    val live = deltaIds(f, deltaRoot).filter(_ > oldFloor)
    if (live.isEmpty) return
    val floor = live.max
    SidecarIO.swap(spark, path) { tmp =>
      // materialize the union while the live layout is still intact
      val all = fold(rows(spark, path))
      val shaped =
        if (partitionCols.nonEmpty)
          all.repartition(partitionCols.map(col): _*)
        else all
      val w = shaped.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
      val out = f.create(new Path(tmp, FloorMarker), true)
      try out.write(floor.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // cleanup (idempotent; readers already ignore ids <= floor)
    live.foreach(id =>
      f.delete(new Path(s"$path.delta/batch=$id"), true))
    if (f.exists(deltaRoot) && f.listStatus(deltaRoot).isEmpty) {
      f.delete(deltaRoot, true); ()
    }
  }
}
