package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.LongType
import graft.meta.{ColStats, SegmentMeta, StatVal}
import graft.scan.TsFileIndex

/** Row tracking (Delta row-tracking / Iceberg row-lineage analog; the
  * reference has no row identity at all — its log is append-only and rows
  * are anonymous). Every row of a tracked table carries
  *
  *   - `_row_id`      — a STABLE long id, unique within the table, that
  *                      survives compaction, re-clustering, CoW DELETE,
  *                      UPDATE (both modes) and MOR verbs, and
  *   - `_row_commit`  — the version of the commit that last created or
  *                      modified the row.
  *
  * Representation is two-tier, exactly Delta's: fresh files carry NOTHING
  * (ids are `baseRowId + parquet row position`, the base assigned at
  * commit time from the table's high-water mark — a pure-metadata cost),
  * and row-preserving rewrites MATERIALIZE the two columns into the new
  * files so the values survive reordering. A scan resolves
  * `coalesce(materialized, default)` per row; both branches are
  * codegen'd, and a never-rewritten table reads ids from arithmetic
  * alone. Each file's base and default version ride in the file listing
  * as `_metadata` constants ([[graft.scan.TsFileIndex]]) — the plan ships
  * nothing per file, never a join, and whole-stage codegen survives.
  */
object RowTracking {
  /** Reserved physical/logical column names. */
  val RowIdCol = "_row_id"
  val RowCommitCol = "_row_commit"

  /** Attach `_row_id`/`_row_commit`, from each file's `_metadata`
    * constants, to a PHYSICAL read of `segs` whose projection includes
    * (possibly null) materialized tracking columns. Positions are
    * physical, so DV filters apply AFTER this projection (filters only
    * remove rows; the arithmetic has already bound each row to its id) —
    * [[TsTable.read]] is the one caller. */
  private[table] def attach(df: DataFrame, segs: Seq[SegmentMeta]): DataFrame = {
    val unassigned = segs.filter(s => s.baseRowId.isEmpty || s.rowVersion.isEmpty)
    if (unassigned.nonEmpty)
      throw new IllegalStateException(
        s"row tracking: ${unassigned.size} segments carry no baseRowId/rowVersion " +
          s"(written before enablement?): ${unassigned.map(_.segmentId).take(3).mkString(", ")}")
    def meta(field: String) = col("_metadata." + field)
    df.withColumn(RowIdCol,
        coalesce(col(RowIdCol), meta(TsFileIndex.BaseRowId) + meta("row_index")))
      .withColumn(RowCommitCol, coalesce(col(RowCommitCol), meta(TsFileIndex.RowCommitVersion)))
  }

  /** Whether `s` can hold a row id in `[lo, hi]`, from the manifest alone —
    * the one file-pruning rule of the row-id reads. A never-rewritten file
    * holds exactly its positional interval `[base, base + rows)`. A
    * rewritten file holds its materialized ids, bounded by the `_row_id`
    * footer stats, plus one positional id (`base + position`) per row
    * written with a NULL id (a MERGE mixes carried ids with rows whose ids
    * its commit mints) — so the positional interval joins the stats one
    * when the stats count nulls or carry no min/max. A stat of unknown
    * shape keeps the file. */
  private[graft] def mayHoldIds(s: SegmentMeta, lo: Long, hi: Long): Boolean = {
    def positional = s.baseRowId.exists(b => b <= hi && b + s.rowCount - 1 >= lo)
    s.stats.get(RowIdCol) match {
      case None | Some(ColStats(None, None, _)) => positional
      case Some(ColStats(Some(StatVal.L(mn)), Some(StatVal.L(mx)), nulls)) =>
        (mn <= hi && mx >= lo) || (nulls > 0 && positional)
      case _ => true
    }
  }

  /** `when(cond, null)` helper for UPDATE-style verbs: a rewritten row
    * whose `_row_commit` is materialized NULL falls back to its new
    * file's rowVersion — i.e. the updating commit — with zero
    * version-prediction games (the version isn't known until the OCC
    * commit lands). */
  def commitOfThisWrite: Column = lit(null).cast(LongType)
}
