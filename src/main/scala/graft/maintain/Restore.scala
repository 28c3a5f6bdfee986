package graft.maintain

import graft.log.LogAction
import graft.table.TsTable

/** RESTORE TABLE … TO VERSION — roll the live set back to an earlier
  * snapshot as a NEW commit (Delta RESTORE / Iceberg rollback analog; the
  * reference has time-travel reads but no rollback verb). The log is
  * append-only and history is never rewritten: the restore commit swaps
  * the current live set for the target version's (metadata-only — no data
  * file is read, copied or rewritten, so restoring a 100 TB table is a
  * manifest-sized operation), concurrent readers keep snapshot isolation,
  * and the restore itself shows up in history and can be restored away.
  *
  * Fails loudly if snapshot expiration has already reclaimed any file the
  * target snapshot references (data, coverage sidecar, or deletion
  * vector) — a restore that silently resurrected a half-swept snapshot
  * would fail at scan time instead, far from the cause. (A tagged
  * version stays restorable even after expiration: expire checkpoints it
  * and keeps its files.)
  *
  * CHECK-constraint caveat: restore is metadata-only BY DESIGN, so it
  * does not re-validate the target's rows against checks added after the
  * target was written — a restore can resurrect rows a newer check would
  * reject. Constraints added via addCheck validate the CURRENT state, so
  * re-running addCheck (drop + add) after a restore re-establishes the
  * invariant, or run a validating scan: scan.where(NOT check).count.
  */
object Restore {

  final case class Report(restoredTo: Long, filesAdded: Int, filesRemoved: Int,
                          rowsBefore: Long, rowsAfter: Long, version: Long)

  def restore(table: TsTable, toVersion: Long): Report = {
    table.refresh()
    // every file the target references must still exist — expire sweeps
    // unreferenced files after a grace, and a target past that horizon is
    // unrestorable by construction (same guard Delta's RESTORE applies)
    val target = table.pinWithFiles(toVersion, s"restore to v$toVersion")
    val before = table.state
    val delta = before.segmentDelta(target)
    // the delta is recomputed against the snapshot the Txn commits over, so
    // a rebase retry reconciles against the state it actually replaces
    val v = table.transact()(_.onCommit(_.segmentDelta(target))).version
    Report(toVersion, delta.count(_.isInstanceOf[LogAction.AddSegment]),
      delta.count(_.isInstanceOf[LogAction.RemoveSegment]),
      before.liveSegments.map(_.liveRowCount).sum, target.liveSegments.map(_.liveRowCount).sum, v)
  }
}
