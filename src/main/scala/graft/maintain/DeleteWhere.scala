package graft.maintain

import org.apache.spark.sql.{Column, SparkSession}
import graft.table.TsTable

/** DELETE WHERE — predicate delete, the training-data governance operator
  * (redact contaminated documents, strip a source, drop a time range). Not
  * in the reference (its log is append-only); north-rule addition
  * alongside compaction/MERGE/expire. Two execution modes of the
  * [[RowLevel]] core:
  *
  *  - [[delete]] — copy-on-write: grazed files are rewritten without the
  *    matching rows. Read-optimal (scans stay pure parquet) but the
  *    rewrite cost is proportional to the BYTES of every grazed file.
  *  - [[deleteMor]] — merge-on-read: grazed files get a deletion-vector
  *    sidecar (a position bitmap, [[graft.table.DeletionVectors]]) and
  *    their bytes never move. Delete cost is proportional to the MATCHED
  *    ROWS (tiny bitmaps + one column-pruned scan of the candidates); the
  *    scan pays one codegen'd conjunct until compaction materializes the
  *    DV away. At 100 TB this is the difference between a 1 % delete
  *    writing KBs and it copying ~1 TB.
  *
  * A file whose stats prove the predicate false is never read; a file whose
  * every live row matches is dropped metadata-only in both modes. SQL
  * DELETE semantics: rows where the predicate is NULL are KEPT.
  */
object DeleteWhere {

  final case class Report(candidates: Int, filesKept: Int, filesOut: Int,
                          rowsDeleted: Long, survivors: Long, version: Long,
                          filesDroppedMetaOnly: Int = 0,
                          dvAttached: Int = 0)

  private[maintain] def report(r: RowLevel.Result): Report =
    Report(r.candidates, r.filesKept, r.filesOut, r.matched, r.survivors, r.version,
      r.droppedMetaOnly, r.dvAttached)

  /** Copy-on-write DELETE (see object doc). DV-aware: candidates that
    * already carry a deletion vector are read live-rows-only, and their
    * rewrite output materializes the old DV away. */
  def delete(spark: SparkSession, table: TsTable, condition: Column): Report =
    report(RowLevel.run(spark, table, RowLevel.Predicate(condition), RowLevel.Delete, mor = false))

  /** Merge-on-read DELETE (see object doc): grazed files are re-committed
    * with a deletion vector (and, on time-series tables, a fresh coverage
    * sidecar of their survivors). */
  def deleteMor(spark: SparkSession, table: TsTable, condition: Column): Report =
    report(RowLevel.run(spark, table, RowLevel.Predicate(condition), RowLevel.Delete, mor = true))
}
