package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Fold state of a mergeable sidecar ([[Bloom]], [[ShardedBloom]],
  * [[CountMin]], [[Sketches]], [[BottomK]], the [[Search]] df sidecar),
  * which each family's `update*` returns and takes back as `carried`:
  * the sidecar's `params`, its `stored` side as a read of the generation
  * the last swap landed (with the schema the fold already knows, so the
  * next fold runs no read job for it), and the replay `guard`, the last
  * folded batch id — kept only by the ADDITIVE families (count-min,
  * BM25), where a replayed batch would count twice. A state is built
  * only from disk or from a swap that landed, so it reads the on-disk
  * sidecar itself; a failed fold must drop it, and the next fold
  * re-reads disk.
  */
final case class SidecarFold[P](params: P, stored: DataFrame,
    guard: Option[Long])

object SidecarFold {

  /** Fold one batch into the sidecar directory `dest`: start from
    * `carried` (else `load` the state from disk), skip a `batchId` at or
    * below the guard, else `merge` — the family's one piece: the next
    * state with the merged side unwritten, or None when the batch holds
    * nothing to fold — then swap the merged plan in
    * ([[SidecarIO.atomicOverwriteDf]], `partitionCols` kept; its tmp
    * write is the plan's one materialization, so a fold never reads the
    * directory it replaces) and carry a read of the landed generation.
    */
  private[pipeline] def fold[P](dest: String, batchId: Option[Long],
      carried: Option[SidecarFold[P]], partitionCols: Seq[String] = Nil)(
      load: => SidecarFold[P])(
      merge: SidecarFold[P] => Option[SidecarFold[P]]): SidecarFold[P] = {
    val st = carried.getOrElse(load)
    if (batchId.exists(id => st.guard.exists(id <= _))) st
    else merge(st).fold(st) { next =>
      SidecarIO.atomicOverwriteDf(next.stored, dest, partitionCols)
      // a partitioned read puts the partition columns last: select the
      // merged side's column order back, as the families union by position
      val schema = next.stored.schema
      next.copy(stored = next.stored.sparkSession.read.schema(schema)
        .parquet(dest).select(schema.fieldNames.map(col): _*))
    }
  }
}
