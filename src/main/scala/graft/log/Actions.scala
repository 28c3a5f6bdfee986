package graft.log

import com.fasterxml.jackson.databind.JsonNode
import graft.meta.{Json, SegmentMeta, TableMeta}

/** Log actions, the four verbs of the reference
  * (transaction_log/actions.rs:19-39): AddSegment / RemoveSegment /
  * UpdateTableMeta (full replacement) / UpdateTableCoverage. The reference
  * defines-but-never-emits RemoveSegment in v0.1; our maintenance operators
  * (compaction, MERGE, expire) emit it. SetTxn is our streaming addition
  * (the Delta-Lake-style application transaction verb): it records an
  * (appId, batchId) watermark INSIDE the same commit as the batch's
  * AddSegments, so exactly-once ingestion survives crashes between data
  * commit and any external journal.
  */
sealed trait LogAction {
  def toJson: JsonNode
}

object LogAction {
  final case class AddSegment(segment: SegmentMeta) extends LogAction {
    def toJson: JsonNode = { val n = Json.obj(); n.set[JsonNode]("add_segment", segment.toJson); n }
  }
  final case class RemoveSegment(segmentId: String) extends LogAction {
    def toJson: JsonNode = {
      val n = Json.obj(); n.putObject("remove_segment").put("segment_id", segmentId); n
    }
  }
  final case class UpdateTableMeta(meta: TableMeta) extends LogAction {
    def toJson: JsonNode = { val n = Json.obj(); n.set[JsonNode]("update_table_meta", meta.toJson); n }
  }
  final case class UpdateTableCoverage(bucketSpec: String, coveragePath: String) extends LogAction {
    def toJson: JsonNode = {
      val n = Json.obj()
      val c = n.putObject("update_table_coverage")
      c.put("bucket_spec", bucketSpec); c.put("coverage_path", coveragePath); n
    }
  }

  final case class SetTxn(appId: String, batchId: Long) extends LogAction {
    def toJson: JsonNode = {
      val n = Json.obj()
      val c = n.putObject("set_txn")
      c.put("app_id", appId); c.put("batch_id", batchId); n
    }
  }

  /** Change-data-feed sidecar (Delta AddCDCFile analog): a parquet
    * directory under `_cdc/` holding this commit's row-level changes
    * (physical column names + `_change_type`). Carried in the SAME commit
    * as the change it describes, so the feed is exactly as atomic as the
    * table. State-neutral on replay. */
  final case class AddCdcFile(path: String, rowCount: Long) extends LogAction {
    def toJson: JsonNode = {
      val n = Json.obj()
      val c = n.putObject("add_cdc_file")
      c.put("path", path); c.put("row_count", rowCount); n
    }
  }

  /** Marks a Remove+Add commit as LOGICALLY ROW-PRESERVING (compaction,
    * re-clustering, DV materialization — the Delta `dataChange=false`
    * analog at commit granularity): change-feed readers skip it instead
    * of erroring on an unrecorded change. State-neutral on replay. */
  case object DataNeutral extends LogAction {
    def toJson: JsonNode = { val n = Json.obj(); n.putObject("data_neutral"); n }
  }

  def fromJson(n: JsonNode): LogAction =
    if (n.has("add_segment")) AddSegment(SegmentMeta.fromJson(n.get("add_segment")))
    else if (n.has("set_txn")) {
      val c = n.get("set_txn")
      SetTxn(Json.getStr(c, "app_id"), Json.getLong(c, "batch_id"))
    }
    else if (n.has("remove_segment")) RemoveSegment(Json.getStr(n.get("remove_segment"), "segment_id"))
    else if (n.has("update_table_meta")) UpdateTableMeta(TableMeta.fromJson(n.get("update_table_meta")))
    else if (n.has("update_table_coverage")) {
      val c = n.get("update_table_coverage")
      UpdateTableCoverage(Json.getStr(c, "bucket_spec"), Json.getStr(c, "coverage_path"))
    }
    else if (n.has("add_cdc_file")) {
      val c = n.get("add_cdc_file")
      AddCdcFile(Json.getStr(c, "path"), Json.getLong(c, "row_count"))
    }
    else if (n.has("data_neutral")) DataNeutral
    else throw new IllegalArgumentException(s"unknown log action: $n")
}

/** One commit file: `{version, base_version, timestamp, actions[]}`
  * (reference: transaction_log/actions.rs:46-60). */
final case class Commit(version: Long, baseVersion: Long, timestampMillis: Long,
                        actions: Seq[LogAction]) {
  def adds: Seq[SegmentMeta] = actions.collect { case LogAction.AddSegment(s) => s }

  /** Whether this commit changes rows already in the table: it removes a
    * segment, or adds one carrying a deletion vector (a RESTORE whose delta
    * is adds-only re-adds DV'd segments in a remove-free commit; reading
    * those files raw would show the masked rows). A commit that does not is
    * a pure append: its change set is exactly the rows of its adds. */
  def changesRows: Boolean = actions.exists {
    case _: LogAction.RemoveSegment => true
    case LogAction.AddSegment(s) => s.dvPath.isDefined
    case _ => false
  }

  /** Every file this commit references: its adds' data, coverage and DV
    * files, its `_cdc/` change records and its table coverage snapshot. */
  def files: Seq[String] =
    adds.flatMap(_.files) ++ actions.collect {
      case LogAction.AddCdcFile(p, _) => p
      case LogAction.UpdateTableCoverage(_, p) => p
    }

  def toJson: JsonNode = {
    val n = Json.obj()
    n.put("version", version)
    n.put("base_version", baseVersion)
    n.put("timestamp", timestampMillis)
    val a = n.putArray("actions")
    actions.foreach(x => a.add(x.toJson))
    n
  }
}

object Commit {
  def fromJson(n: JsonNode): Commit =
    Commit(
      Json.getLong(n, "version"),
      Json.getLong(n, "base_version"),
      Json.getLong(n, "timestamp"),
      Json.elems(n.get("actions")).map(LogAction.fromJson))
}
