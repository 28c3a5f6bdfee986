package graft.maintain

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.TsTable

/** MERGE INTO (upsert) for revised sequences, and delete-by-key — new vs
  * the reference (north rule), in both modes of the [[RowLevel]] core.
  * Only files whose key range (then footer bloom or exact key scan) can
  * contain an input key are candidates: at 10^12 rows this is what keeps
  * MERGE from rewriting the table. Untouched files are never read or
  * rewritten, so their token arrays are byte-identical trivially; the
  * input set is pinned to the table schema (a missing or extra column
  * fails, a compatible type is cast), so the schema is invariant under
  * MERGE.
  */
object MergeInto {

  final case class Report(candidates: Int, filesOut: Int, updated: Long, inserted: Long,
                          survivors: Long, version: Long)

  /** The largest input key set a keyed MERGE or delete-by-key holds on the
    * driver, and the most keys the pruning entry's bloom tier probes
    * (`graft.scan.FilePruning`). At or below it, one collect returns every
    * key and the match is the predicate `key IN (keys)`: its candidates
    * come from the one pruning entry like any predicate's (footer stats,
    * then the key BLOOMS), and no plan of the run joins. Above it the keys
    * stay distributed: the ranges are tested where the keys are, a
    * copy-on-write run refines them with an exact key-column semi-join,
    * and the match is a keyed join.
    *
    * Why switch so early — the bloom math: segment blooms are
    * adaptive-sized at ~1 % FPP, so a file containing NONE of the K update
    * keys escapes candidacy only if ALL K probes miss: 0.99^K ≈ 0.36 at
    * K=100, 0.077 at K=256, ~0 beyond. Footer blooms prune point-lookups
    * and small batches brilliantly and large batches not at all — no bloom
    * sized for 1 % FPP can testify about 10^5 keys. The exact pass keeps
    * pruning working at any K. */
  val BloomKeyCap: Long = 256L

  private[maintain] def report(r: RowLevel.Result): Report =
    Report(r.candidates, r.filesOut, r.matched, r.inserted, r.survivors, r.version)

  /** Copy-on-write MERGE: candidate files are rewritten as their rows
    * whose key the update set misses, unioned with the updates
    * (matched and brand-new keys), re-clustered with the table's curve.
    * Input rows must be key-unique; duplicates are dropped. `txn` =
    * (appId, batchId) streaming-upsert watermark: lands as a SetTxn action
    * in the SAME commit as the merge, and a replayed batch (same app,
    * batchId ≤ watermark) is skipped inside the OCC loop — the
    * exactly-once discipline of [[graft.streaming.StreamingIngest]],
    * applied to upserts (see [[graft.streaming.StreamingUpsert]]). */
  def merge(spark: SparkSession, table: TsTable, updates: DataFrame,
            key: String = "doc_id", targetFileSize: Long = 512L * 1024 * 1024,
            txn: Option[(String, Long)] = None): Report =
    report(RowLevel.run(spark, table, RowLevel.Keys(updates, key), RowLevel.Upsert,
      mor = false, txn, targetFileSize))

  /** Merge-on-read MERGE (upsert): identical semantics to [[merge]] —
    * matched keys take the update row, unmatched update keys insert,
    * untouched rows survive — but the matched OLD rows are masked with
    * deletion-vector sidecars instead of rewriting their files, and the
    * update set lands as NEW clustered segments. ONE atomic commit carries
    * the DV upserts, the fully-matched removals, and the added segments,
    * so no reader can observe the delete without the replacement.
    *
    * Cost shape at 10^12 rows: COW merge pays the BYTES of every
    * candidate file (curve interleaving makes a uniform 1 % update touch
    * nearly every file — the rewrite approaches a full-table compaction);
    * MOR merge pays one column-pruned scan of the candidates (key +
    * position), KB-scale bitmap sidecars, and a write proportional to the
    * UPDATE SET. The read side pays the DV conjunct on grazed files until
    * compaction materializes it away — the same deliberate write/read
    * trade as [[DeleteWhere.deleteMor]]. */
  def mergeMor(spark: SparkSession, table: TsTable, updates: DataFrame,
               key: String = "doc_id",
               targetFileSize: Long = 512L * 1024 * 1024,
               txn: Option[(String, Long)] = None): Report =
    report(RowLevel.run(spark, table, RowLevel.Keys(updates, key), RowLevel.Upsert,
      mor = true, txn, targetFileSize))

  /** `MERGE INTO … WHEN MATCHED THEN DELETE` — delete-by-key, the other
    * half of the upsert MERGE (GDPR/right-to-be-forgotten over doc ids),
    * merge-on-read: matched-row-proportional cost, no file bytes move,
    * exactly like [[DeleteWhere.deleteMor]]. Up to [[BloomKeyCap]] keys
    * the match is the predicate `key IN (keys)` (one collect), pruned and
    * matched as [[DeleteWhere.deleteMor]] would; above it, a keyed LEFT
    * join Catalyst plans (broadcast or shuffle). NULL keys never match. */
  def mergeDelete(spark: SparkSession, table: TsTable, keys: DataFrame,
                  key: String = "doc_id"): DeleteWhere.Report =
    DeleteWhere.report(RowLevel.run(spark, table, RowLevel.Keys(keys, key), RowLevel.Delete,
      mor = true))
}
