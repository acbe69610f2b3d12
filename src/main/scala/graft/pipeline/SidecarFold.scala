package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Fold state of a mergeable sidecar ([[Bloom]], [[ShardedBloom]],
  * [[CountMin]], [[Sketches]], [[BottomK]], the [[Search]] df sidecar),
  * which each family's `update*` returns and takes back as `carried`:
  * the sidecar's `params`, its `stored` side as the frame the last swap
  * wrote (local-checkpointed, so the next fold reads nothing from disk),
  * and the replay `guard`, the last folded batch id — kept only by the
  * ADDITIVE families (count-min, BM25), where a replayed batch would
  * count twice. A state is built only from disk or from a swap that
  * landed, so it equals the on-disk sidecar by induction; a failed fold
  * must drop it, and the next fold re-reads disk.
  */
final case class SidecarFold[P](params: P, stored: DataFrame,
    guard: Option[Long])

object SidecarFold {

  /** Fold one batch into the sidecar directory `dest`: start from
    * `carried` (else `load` the state from disk), skip a `batchId` at or
    * below the guard, else `merge` — the family's one piece: the next
    * state with the merged side unwritten, or None when the batch holds
    * nothing to fold — then checkpoint the merged side and swap it in
    * ([[SidecarIO.atomicOverwriteDf]], `partitionCols` kept), so a fold
    * never reads the directory it replaces.
    */
  private[pipeline] def fold[P](dest: String, batchId: Option[Long],
      carried: Option[SidecarFold[P]], partitionCols: Seq[String] = Nil)(
      load: => SidecarFold[P])(
      merge: SidecarFold[P] => Option[SidecarFold[P]]): SidecarFold[P] = {
    val st = carried.getOrElse(load)
    if (batchId.exists(id => st.guard.exists(id <= _))) st
    else merge(st).fold(st) { next =>
      val written = next.stored.localCheckpoint(true)
      SidecarIO.atomicOverwriteDf(written, dest, partitionCols)
      next.copy(stored = written)
    }
  }
}
