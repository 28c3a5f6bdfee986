package graft.log

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.Files
import graft.meta.{Json, SegmentMeta, TableMeta}

/** Pointer to the current table-level coverage snapshot sidecar
  * (reference: TableCoveragePointer, transaction_log/table_state.rs). */
final case class CoveragePointer(bucketSpec: String, coveragePath: String)

/** Materialized snapshot of the table at a version: replay commits
  * 1..=CURRENT applying actions in order; last UpdateTableMeta wins,
  * AddSegment upserts by id, RemoveSegment deletes
  * (reference: transaction_log/table_state.rs:51-153).
  *
  * Snapshot isolation invariant: a reader captures CURRENT once, replays to
  * that version, and thereafter touches only immutable files — concurrent
  * maintenance commits at version N+1 never change what the pinned reader
  * sees (reference: ts_table_provider.rs:126-145 snapshot point).
  */
final case class TableState(
    version: Long,
    tableMeta: Option[TableMeta],
    segments: Map[String, SegmentMeta],
    tableCoverage: Option[CoveragePointer],
    txns: Map[String, Long] = Map.empty) {

  def liveSegments: Seq[SegmentMeta] =
    segments.values.toSeq.sortBy(s => (s.path, s.segmentId))

  /** Every file a reader of this snapshot may open: the segments' data,
    * coverage and DV files, and the table coverage snapshot. */
  def files: Seq[String] =
    segments.values.toSeq.flatMap(_.files) ++ tableCoverage.map(_.coveragePath)

  /** The actions that turn this state's segments into `to`'s: a remove for
    * every segment absent from or different in `to`, then an add for every
    * segment of `to` absent from or different here (a changed segment, e.g.
    * one with a DV attached since, is Remove+Add like every data-change
    * commit). Added metas are copied whole, sidecar pointers and row-id
    * ranges included. */
  def segmentDelta(to: TableState): Seq[LogAction] =
    liveSegments.filterNot(s => to.segments.get(s.segmentId).contains(s))
      .map(s => LogAction.RemoveSegment(s.segmentId)) ++
      to.liveSegments.filterNot(s => segments.get(s.segmentId).contains(s))
        .map(LogAction.AddSegment)

  def apply(action: LogAction): TableState = action match {
    case LogAction.AddSegment(seg)      => copy(segments = segments + (seg.segmentId -> seg))
    case LogAction.RemoveSegment(id)    => copy(segments = segments - id)
    case LogAction.UpdateTableMeta(m)   => copy(tableMeta = Some(m))
    case LogAction.UpdateTableCoverage(spec, path) =>
      copy(tableCoverage = Some(CoveragePointer(spec, path)))
    case LogAction.SetTxn(app, batch)   =>
      // latest-wins watermark per application (streaming batch ids are
      // monotonic per checkpoint, so max == latest)
      copy(txns = txns + (app -> math.max(batch, txns.getOrElse(app, Long.MinValue))))
    // change-feed records are COMMIT-scoped, not state: the feed reader
    // walks raw commits ([[graft.maintain.ChangeFeed]]); replay ignores them
    case _: LogAction.AddCdcFile        => this
    case LogAction.DataNeutral          => this
  }

  def toJson: JsonNode = {
    val n = Json.obj()
    n.put("version", version)
    tableMeta.foreach(m => n.set[JsonNode]("table_meta", m.toJson))
    val segs = n.putArray("segments")
    liveSegments.foreach(s => segs.add(s.toJson))
    tableCoverage.foreach { c =>
      val tc = n.putObject("table_coverage")
      tc.put("bucket_spec", c.bucketSpec); tc.put("coverage_path", c.coveragePath)
    }
    if (txns.nonEmpty) {
      val tx = n.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (app, batch) => tx.put(app, batch) }
    }
    n
  }
}

object TableState {
  val empty: TableState = TableState(0L, None, Map.empty, None)

  def fromJson(n: JsonNode): TableState = {
    val segs = Json.elems(n.get("segments")).map(SegmentMeta.fromJson)
    val txns = Option(n.get("txns")).map { tx =>
      Json.fields(tx).map { case (app, v) => app -> v.asLong() }
    }.getOrElse(Map.empty[String, Long])
    TableState(
      Json.getLong(n, "version"),
      Option(n.get("table_meta")).map(TableMeta.fromJson),
      segs.map(s => s.segmentId -> s).toMap,
      Option(n.get("table_coverage")).map(tc =>
        CoveragePointer(Json.getStr(tc, "bucket_spec"), Json.getStr(tc, "coverage_path"))),
      txns)
  }

  /** Replay the log to CURRENT, starting from the newest checkpoint ≤
    * CURRENT when one exists (our manifest-rewrite output) so replay cost is
    * bounded regardless of table age — the log never has to be re-read from
    * version 1 on a table with millions of commits. */
  def rebuild(store: LogStore): TableState = replay(store, store.currentVersion())

  /** Replay to a pinned version — the one way to pin a version (time
    * travel, tags, branches, clones, restore, stream snapshots). Refuses a
    * version outside [0, CURRENT] (a commit file above CURRENT is a crashed
    * writer's orphan), and one whose history expiration reclaimed with
    * [[VersionExpiredException]]. */
  def rebuildAt(store: LogStore, version: Long): TableState = {
    val current = store.currentVersion()
    require(version >= 0 && version <= current, s"version v$version out of range [0, $current]")
    replay(store, version)
  }

  private def replay(store: LogStore, version: Long): TableState = {
    val (start, base) = store.latestCheckpointVersion(version) match {
      case Some(ckptV) =>
        val st = fromJson(Json.parse(Files.readString(store.checkpointPath(ckptV))))
        if (st.version != ckptV)
          throw CorruptLogException(s"checkpoint $ckptV declares version ${st.version}")
        (ckptV + 1, st)
      case None => (1L, empty)
    }
    (start to version).foldLeft(base)((st, v) =>
      store.readFor(version, v).actions.foldLeft(st)(_.apply(_))).copy(version = version)
  }
}
