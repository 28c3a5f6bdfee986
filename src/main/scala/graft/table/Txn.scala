package graft.table

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.log.{LogAction, TableState}
import graft.meta.SegmentMeta

/** One optimistic transaction — the only way a writer verb commits (the
  * shape of Delta's OptimisticTransaction, on graft's log). A verb opens
  * one with [[TsTable.transact]], stages files and declares its changes
  * inside the build closure, and the Txn then commits through the table's
  * OCC loop ("lock locally, OCC globally"):
  *
  *  - it pins the snapshot the verb read, the base its CHECK re-gate
  *    compares against;
  *  - it registers every file the verb stages — data segments with their
  *    coverage sidecars ([[stage]]), change-feed files ([[stageCdc]]),
  *    deletion-vector and coverage sidecars ([[writeSidecar]]) — and deletes
  *    them itself, outside the commit lock, when the build or the commit
  *    aborts or the batch turns out to be a replay;
  *  - its conflict set is every segment it removes (an upsert is a remove
  *    plus an add of the same id): each must still be live under the
  *    deletion vector it was read with, else the commit throws
  *    [[ConcurrentSegmentChangeException]]. An optional (app, batch)
  *    [[watermark]] turns a replayed batch into a no-op that reports the
  *    version the watermark already reached;
  *  - staged segments are re-gated when the table's CHECK set changed
  *    since the snapshot, and a time-series table's coverage snapshot is
  *    recomputed in the same commit whenever the commit changes the live
  *    segment set, unless it is data-neutral or carries its own coverage
  *    action.
  *
  * A Txn that declares nothing commits nothing and reports the current
  * version. Only the creation commits on an empty log (`TsTable.create`,
  * `cloneTo`) write their v1 directly. */
final class Txn private[table] (table: TsTable) {

  /** The snapshot this transaction read. */
  private val snapshot: TableState = table.state
  private val checksRead = snapshot.tableMeta.map(_.checks).getOrElse(Nil)

  private val files = ArrayBuffer.empty[String]        // root-relative, every staged file
  private val removed = ArrayBuffer.empty[SegmentMeta] // the conflict set, as read
  private val added = ArrayBuffer.empty[SegmentMeta]
  private val staged = ArrayBuffer.empty[SegmentMeta]  // added AND written here: CHECK re-gate
  private val extra = ArrayBuffer.empty[LogAction]
  private var derive: TableState => Seq[LogAction] = _ => Nil
  private var mark: Option[(String, Long)] = None
  private var spark: Option[SparkSession] = None
  private[table] var replayed = false

  /** Write `df` as new segments under data/ (footer stats, coverage
    * sidecars on time-series tables, CHECK-gated) and add them. */
  def stage(df: DataFrame): Seq[SegmentMeta] = stageWithSchemas(df).map(_._1)

  /** [[stage]], also returning each file's embedded Spark schema. */
  private[table] def stageWithSchemas(df: DataFrame): Seq[(SegmentMeta, Option[StructType])] = {
    spark = Some(df.sparkSession)
    val out = table.stageSegments(this, df)
    staged ++= out.map(_._1)
    added ++= out.map(_._1)
    out
  }

  /** Write a change-record DataFrame under _cdc/ and carry its
    * AddCdcFile actions in this commit. */
  def stageCdc(df: DataFrame): Unit = extra ++= table.stageCdc(this, df)

  /** Write a root-relative sidecar file (DV bitmap, coverage) owned by
    * this transaction. */
  def writeSidecar(rel: String, bytes: Array[Byte]): Unit = {
    register(rel)
    table.writeBytes(s"${table.root}/$rel", bytes)
  }

  /** Registered before the file lands, so a half-written file is cleaned too. */
  private[table] def register(rel: String): Unit = files += rel

  /** Remove segments; each joins the conflict set under the DV it carries. */
  def remove(segs: Seq[SegmentMeta]): Unit = removed ++= segs

  /** Add existing segment metas, e.g. a DV re-attach of a removed segment. */
  def add(segs: Seq[SegmentMeta]): Unit = added ++= segs

  /** Mark the commit logically row-preserving (compaction): change-feed
    * readers skip it and coverage is left as is. */
  def markDataNeutral(): Unit = extra += LogAction.DataNeutral

  /** Commit the (app, batch) watermark; a batch at or below the table's
    * watermark for `app` is a replay and commits nothing. */
  def watermark(m: (String, Long)): Unit = mark = Some(m)

  /** Actions computed from the snapshot actually committed over (re-run on
    * every OCC rebase); throw to abort. */
  def onCommit(f: TableState => Seq[LogAction]): Unit = derive = f

  private[table] def commit(maxRetries: Int): Long = table.occLoop(maxRetries) { st =>
    if (mark.exists { case (app, batch) => st.txns.get(app).exists(_ >= batch) }) {
      replayed = true
      st.version
    } else {
      val gone = removed.map(_.segmentId).filterNot(st.segments.contains)
      if (gone.nonEmpty) throw new ConcurrentSegmentChangeException(
        s"swap aborted: segments already rewritten by a concurrent job: ${gone.mkString(", ")}")
      // a concurrent MOR delete keeps the segment id but changes its DV:
      // committing over it would resurrect (rewrite) or drop (DV union)
      // that writer's deletes
      val reDv = removed.filter(s => st.segments(s.segmentId).dvPath != s.dvPath).map(_.segmentId)
      if (reDv.nonEmpty) throw new ConcurrentSegmentChangeException(
        s"swap aborted: segments re-DV'd by a concurrent DELETE/MERGE: ${reDv.mkString(", ")}")
      if (staged.nonEmpty && st.tableMeta.map(_.checks).getOrElse(Nil) != checksRead)
        spark.foreach(table.enforceChecks(_,
          staged.map(s => (s"${table.root}/${s.path}", s.stats, s.rowCount)).toSeq))
      val actions = removed.map(s => LogAction.RemoveSegment(s.segmentId)).toSeq ++
        added.map(LogAction.AddSegment) ++ derive(st) ++ extra ++
        mark.map { case (app, batch) => LogAction.SetTxn(app, batch) }
      val all = actions ++ coverageRepair(st, actions)
      if (all.isEmpty) st.version else table.commitAndAdvance(st, all)
    }
  }

  private def coverageRepair(st: TableState, actions: Seq[LogAction]): Option[LogAction] = {
    val removeIds = actions.collect { case LogAction.RemoveSegment(id) => id }
    val adds = actions.collect { case LogAction.AddSegment(s) => s }
    val changesLive = removeIds.nonEmpty || adds.exists(s => !st.segments.contains(s.segmentId))
    val ownCoverage = actions.exists {
      case LogAction.DataNeutral | _: LogAction.UpdateTableCoverage => true
      case _ => false
    }
    if (changesLive && !ownCoverage) table.coverageActionFor(st, removeIds, adds) else None
  }

  /** Delete every registered file (abort or replay). */
  private[table] def discard(): Unit =
    files.foreach(rel => Files.deleteIfExists(table.localPath(rel)))
}

object Txn {
  /** What a transaction's build returned, the version it committed (or the
    * version already current when it had nothing to commit or replayed),
    * and whether its watermark marked it a replay. */
  final case class Done[A](value: A, version: Long, replayed: Boolean)
}
