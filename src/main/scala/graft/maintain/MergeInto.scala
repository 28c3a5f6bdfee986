package graft.maintain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.{PathNorm, SegmentMeta}
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
    * driver. At or below it, one collect returns every key: candidate
    * ranges are tested on the driver, the same keys probe the footer
    * BLOOMS, and the match is a literal key set, so no plan of the run
    * joins. Above it the keys stay distributed: the ranges are tested
    * where the keys are, a copy-on-write run refines them with the exact
    * key-column semi-join (below), and the match is a keyed join.
    *
    * Why switch so early — the bloom math: segment blooms are
    * adaptive-sized at ~1 % FPP, so a file containing NONE of the K update
    * keys escapes candidacy only if ALL K probes miss: 0.99^K ≈ 0.36 at
    * K=100, 0.077 at K=256, ~0 beyond. Footer blooms prune point-lookups
    * and small batches brilliantly and large batches not at all — no bloom
    * sized for 1 % FPP can testify about 10^5 keys. The exact pass keeps
    * pruning working at any K. */
  val BloomKeyCap: Long = 256L

  /** Exact distributed candidate refinement for update sets too large for
    * footer blooms: semi-join the live rows of `segs`' key column
    * (single-column projected scan, input_file_name-tagged) against the
    * update keys and return the segment ids of files that actually contain
    * ≥ 1 key. Update keys never collect to the driver; the only collect is
    * the distinct hit FILE list, bounded by the candidate count. Sound by
    * construction (zero false negatives — a file omitted here provably
    * holds no update key) and, unlike blooms, zero false positives at any
    * key-set size. */
  private[graft] def refineCandidatesExact(spark: SparkSession, table: TsTable,
      updKeys: DataFrame, key: String, segs: Seq[SegmentMeta]): Set[String] = {
    val byPath = segs.map(s =>
      PathNorm.canonical(PathNorm.resolve(table.root, s.path)) -> s.segmentId).toMap
    table.read(spark, segs, table.state.tableMeta)
      .select(col(key), input_file_name().as("__file"))
      .join(updKeys, Seq(key), "left_semi")
      .select("__file").distinct().collect()
      .iterator.flatMap(r => byPath.get(PathNorm.canonical(r.getString(0))))
      .toSet
  }

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
    * the match is a literal key set on the driver (one collect, which also
    * feeds the footer-bloom probes); above it, a keyed LEFT join Catalyst
    * plans (broadcast or shuffle). NULL keys never match. */
  def mergeDelete(spark: SparkSession, table: TsTable, keys: DataFrame,
                  key: String = "doc_id"): DeleteWhere.Report =
    DeleteWhere.report(RowLevel.run(spark, table, RowLevel.Keys(keys, key), RowLevel.Delete,
      mor = true))
}
