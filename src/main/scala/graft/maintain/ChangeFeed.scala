package graft.maintain

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.log.{Commit, LogAction}
import graft.meta.{SegmentMeta, TableMeta}
import graft.streaming.TableStreamSource
import graft.table.TsTable
import graft.table.RowTracking.{RowCommitCol, RowIdCol}

/** Change data feed — the WRITER-RECORDED row-level change stream (Delta
  * CDF / `table_changes` analog; the reference's log is append-only and has
  * no mutation record to feed from). Complements [[SnapshotDiff]]: the diff
  * RECONSTRUCTS net changes between two states with a keyed join; the feed
  * REPLAYS the exact per-commit changes the writers recorded, needs no key,
  * costs a pruned read of only the change record, and composes with
  * streaming (TableStreamSource `readChangeFeed`).
  *
  * Record model (all carried in the SAME atomic commit as the change):
  *  - row-changing verbs (DELETE / UPDATE / MERGE) write their row images
  *    as `_cdc/` parquet sidecars and reference them with AddCdcFile
  *    actions — `_change_type` ∈ {insert, delete, update_pre, update_post}
  *    (an UPDATE emits both images, [[SnapshotDiff]]'s vocabulary);
  *  - pure appends write NO sidecar: the feed synthesizes their inserts
  *    from the committed segments themselves (the ingest hot path pays
  *    zero extra bytes — Delta's add-file synthesis, the property that
  *    keeps CDF free for the 99 % append workload);
  *  - row-preserving rewrites (compaction / re-clustering) carry a
  *    DataNeutral marker and are skipped;
  *  - a commit that removes or re-masks rows with NO record (mutations
  *    from before `enableCdf`, RESTORE) fails the read with the repair
  *    spelled out — never a silently incomplete feed.
  *
  * Output = the table's logical columns + `_change_type` +
  * `_commit_version` + `_commit_timestamp`. CDC files hold frozen PHYSICAL
  * column names (like data files), so the feed reads correctly across
  * RENAME COLUMN; columns added after a record was written null-fill via
  * the declared-schema read, and type widening applies exactly as on data
  * files.
  *
  * Row tracking composes: when the table tracks rows, the feed ALSO
  * carries `_row_id` — synthesized inserts compute it from the committed
  * segments' bases (still zero extra bytes), writer-recorded images carry
  * the changed row's id (update_pre/update_post pairs link by it, so a
  * consumer applies updates join-free), and records that predate
  * enablement (or MERGE-inserted rows, whose ids are minted at commit)
  * read as NULL.
  *
  * Scale: the plan is a union of per-commit pruned parquet reads — cost
  * proportional to the CHANGE RECORD, not the table; no join, no shuffle,
  * no driver data. Ranges spanning thousands of commits should be read in
  * chunks (the streaming source does exactly that per micro-batch).
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  /** Changes AFTER `sinceVersion` up to and including `toVersion` — the
    * commits sinceVersion+1..toVersion ([[SnapshotDiff]]'s range shape). */
  def read(spark: SparkSession, table: TsTable, sinceVersion: Long,
           toVersion: Long): DataFrame = {
    require(sinceVersion <= toVersion,
      s"change-feed range is backwards: v$sinceVersion > v$toVersion")
    table.refresh()
    val meta = table.meta
    val logical = meta.schema.getOrElse(throw new IllegalStateException(
      "table has no adopted schema yet — nothing can have changed"))
    val perCommit: Seq[DataFrame] =
      table.store.commits(sinceVersion + 1, toVersion).flatMap { c =>
        commitChanges(spark, table, meta, c).map(
          _.withColumn(VersionCol, lit(c.version))
           .withColumn(TimestampCol, lit(new java.sql.Timestamp(c.timestampMillis))))
      }
    if (perCommit.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        TableStreamSource.cdfSchema(logical, meta.rowTracking))
    else perCommit.reduce(_.unionByName(_))
  }

  /** The inserts of `segs` read under `meta` (logical names +
    * `_change_type`): a pure append's change set, the initial snapshot of a
    * change-feed stream and [[SnapshotDiff]]'s append-only range. When
    * `tracked`, `_row_id` follows the logical columns: the standard
    * coalesce(materialized, base + position) binding over the segments
    * themselves — zero extra bytes, like the synthesis itself (the
    * materialized arm matters for re-added rewritten files, e.g. a
    * published branch compaction) — or NULL when a segment predates
    * enablement. */
  private[graft] def inserts(spark: SparkSession, table: TsTable, segs: Seq[SegmentMeta],
                             meta: TableMeta, tracked: Boolean): DataFrame = {
    val ids = tracked && segs.forall(_.baseRowId.isDefined)
    val rows = table.read(spark, segs, Some(meta), ids)
    (if (ids) rows.drop(RowCommitCol)
     else if (tracked) rows.withColumn(RowIdCol, lit(null).cast(LongType))
     else rows).withColumn(ChangeTypeCol, lit("insert"))
  }

  /** One commit's change rows (logical names + `_change_type`), or None
    * when the commit changed no rows (meta-only, coverage, txn,
    * DataNeutral rewrite, or an all-empty change set). */
  private def commitChanges(spark: SparkSession, table: TsTable, meta: TableMeta,
                            c: Commit): Option[DataFrame] = {
    val cdcPaths = c.actions.collect { case LogAction.AddCdcFile(p, _) =>
      graft.meta.PathNorm.resolve(table.root, p) }
    if (cdcPaths.nonEmpty) {
      // writer-recorded record = the COMPLETE change set for the commit
      // (MERGE's inserts ride the same sidecar as its update images), under
      // physical names like the data files. Tracked reads declare `_row_id`
      // in the record schema: records from tracked writers carry it,
      // pre-enablement records null-fill.
      val cdcSchema = StructType(meta.physicalSchema.get.fields ++
        (if (meta.rowTracking) Seq(StructField(RowIdCol, LongType)) else Nil) :+
        StructField(ChangeTypeCol, StringType))
      return Some(table.toLogical(spark.read.schema(cdcSchema).parquet(cdcPaths: _*)))
    }
    if (c.actions.contains(LogAction.DataNeutral)) return None // row-preserving rewrite
    if (c.changesRows)
      throw new IllegalStateException(
        s"commit v${c.version} of ${table.root} changed rows without a change record " +
          "(a mutation from before enableCdf, or a RESTORE). The feed cannot " +
          "replay it; start the read after it, or reconstruct the net change " +
          "with SnapshotDiff.diff")
    Option.when(c.adds.nonEmpty)(inserts(spark, table, c.adds, meta, meta.rowTracking))
  }
}
