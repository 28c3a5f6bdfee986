package graft.maintain

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.{RowTracking, TsTable}

/** Maintenance by ROW IDENTITY — the operators row tracking unlocks.
  * A change-feed consumer (or any revision pipeline) that knows WHICH
  * rows to touch by `_row_id` should not have to re-derive a key
  * predicate; and for never-rewritten files the id→position mapping is
  * pure arithmetic (`pos = id − baseRowId`), so an id-addressed verb
  * attaches deletion vectors with ZERO data reads on those files — the
  * only scan is over rewritten (materialized-id) candidates, and it is
  * pruned to the id column. Both verbs are merge-on-read runs of the
  * [[RowLevel]] core. No analog in the reference (append-only log, no row
  * identity) nor in Delta (row tracking there is read-only).
  *
  * Clustered tables only: a time-series verb must recompute coverage from
  * surviving rows, which requires the scan these operators exist to avoid
  * — use [[DeleteWhere.deleteMor]] with a predicate there.
  */
object RowIdOps {

  private def requireIdTable(table: TsTable, verb: String): Unit = {
    table.refresh()
    require(table.rowTrackingEnabled, s"$verb needs row tracking enabled")
    require(table.timeSpec.isEmpty,
      s"$verb supports clustered tables; time-series tables recompute " +
        "coverage from survivors — use DeleteWhere.deleteMor with a predicate")
  }

  /** Merge-on-read DELETE of the given row ids (a one-column DataFrame or
    * any frame whose FIRST column is the id). Candidates come from the
    * manifest alone (id intervals, `_row_id` footer stats); rows already
    * masked by a DV are excluded, so a replayed id set is idempotent;
    * fully-matched files drop metadata-only. */
  def deleteByRowIds(spark: SparkSession, table: TsTable, ids: DataFrame): DeleteWhere.Report = {
    requireIdTable(table, "deleteByRowIds")
    DeleteWhere.report(RowLevel.run(spark, table, RowLevel.RowIds(ids), RowLevel.Delete,
      mor = true))
  }

  /** UPSERT by row id — apply full revised row images by identity, the
    * CDC-apply primitive (consume `update_post`/`insert` records, or any
    * revision pipeline keyed by `_row_id`, and write them back without a
    * key predicate). `rows` = the table's logical columns plus `_row_id`
    * (other columns are ignored): a NON-NULL id revises that row IN PLACE
    * (the old position is masked via the same zero-read arithmetic as
    * [[deleteByRowIds]]; the new image lands with the SAME materialized
    * id, so identity survives the upsert), a NULL id inserts a fresh row
    * (id minted by the commit). An id with no live row resurrects it —
    * last-writer-wins, the right semantics for applying a feed against
    * concurrent deletes. ONE atomic commit carries masks + images (+ the
    * CDF record when the feed is on). */
  def upsertByRowIds(spark: SparkSession, table: TsTable, rows: DataFrame,
                     targetFileSize: Long = 512L * 1024 * 1024): MergeInto.Report = {
    requireIdTable(table, "upsertByRowIds")
    require(table.meta.schema.isDefined, "table has no schema yet")
    require(rows.columns.contains(RowTracking.RowIdCol),
      s"upsertByRowIds needs a ${RowTracking.RowIdCol} column")
    MergeInto.report(RowLevel.run(spark, table, RowLevel.RowIds(rows), RowLevel.Upsert,
      mor = true, targetFileSize = targetFileSize))
  }
}
