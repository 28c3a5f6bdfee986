package graft.maintain

import java.nio.file.{Files, Path}
import graft.log.{TableState, VersionExpiredException}
import graft.meta.PathNorm
import graft.table.{Fanout, TsTable}

/** Snapshot expiration + manifest rewrite (north rule; the reference lists
  * both as roadmap — README.md:374-376, checkpoints note in
  * docs/blog/how-i-built-this/how-i-built-this.md:38-39).
  *
  * `expire(table, keepFromVersion)` declares versions < keepFromVersion no
  * longer time-travelable, as one mark-and-sweep:
  *  - mark: the live set is every file a retained snapshot references —
  *    the watermark state, every commit in [watermark, CURRENT], tag and
  *    branch states below the watermark, branch heads and the files branch
  *    commits added, and commits a writer may still be publishing above
  *    CURRENT;
  *  - sweep: the candidates are the files of the table's own directories
  *    plus the history at or below the watermark (the earliest retained
  *    snapshot and every commit up to the watermark). A candidate that is
  *    not live is deleted when that history names it (known dead) or when
  *    it is older than the grace period (debris a crashed writer left).
  * The watermark state is checkpointed before anything is deleted, and the
  * log below it is dropped after ([[graft.log.LogStore.truncate]]), so
  * replay cost stays O(commits since the watermark). Readers at or above
  * the watermark are untouched: snapshot isolation holds for every
  * retained version.
  *
  * All driver-side metadata IO — O(commits + files), no Spark job.
  */
object Expire {

  final case class Report(watermark: Long, dataFilesDeleted: Int, bytesDeleted: Long,
                          sidecarsDeleted: Int, commitsDropped: Int,
                          stagingDirsDeleted: Int = 0,
                          unreferencedFilesDeleted: Int = 0,
                          orphanCommitsDropped: Int = 0,
                          orphanSidecarsDeleted: Int = 0)

  /** The table directories the sweep lists; `data/` holds data files, the
    * rest sidecars. */
  private val SweptDirs = Seq("data", "_coverage/segments", "_coverage/table", "_dv", "_cdc")

  /** `stagingGraceMs`: the grace period. Unreferenced files and `.staging-*`
    * directories (a writer's pre-commit scratch) older than this are
    * crashed-writer debris; a live writer's are at most minutes old. */
  def expire(table: TsTable, keepFromVersion: Long,
             stagingGraceMs: Long = 60L * 60 * 1000): Report = {
    require(table.branchName.isEmpty,
      s"expire must run on the main table handle, not branch '${table.branchName.getOrElse("")}' — " +
        "a branch-scoped expire would drop main-log commits shared with other readers")
    val store = table.store
    val current = store.currentVersion()
    require(keepFromVersion >= 1 && keepFromVersion <= current,
      s"watermark $keepFromVersion out of range [1, $current]")
    table.refresh()
    val cutoff = System.currentTimeMillis() - stagingGraceMs

    // ---- mark. A watermark below the retained window is refused here,
    // before anything is written or deleted (VersionExpiredException).
    val wmState = TableState.rebuildAt(store, keepFromVersion)
    val retained = store.commits(keepFromVersion, current)
    // tags and live branches are promises that a version stays readable
    // across expiration: each one below the watermark keeps its state as a
    // checkpoint; one whose history is already gone blocks expire
    def pinFor(v: Long, who: String, fix: String): TableState =
      try TableState.rebuildAt(store, v)
      catch { case e: VersionExpiredException =>
        throw new IllegalStateException(s"$who at v$v whose history is no longer " +
          s"replayable; $fix to unblock expire (${e.getMessage})", e)
      }
    val tagStates = table.tags.values.filter(_ < keepFromVersion).toSeq.distinct.sorted.map { tv =>
      val names = table.tags.collect { case (n, v) if v == tv => s"'$n'" }.mkString(", ")
      pinFor(tv, s"tag(s) $names point", "drop the tag(s)")
    }
    val branches = graft.log.BranchLog.list(store.tableRoot)
      .map(graft.log.BranchLog.open(store.tableRoot, _))
    val baseStates = branches.map(_.base).filter(_ < keepFromVersion).distinct.sorted.map { bv =>
      val names = branches.collect { case b if b.base == bv => s"'${b.branch}'" }.mkString(", ")
      pinFor(bv, s"branch(es) $names forked", "publish or drop the branch(es)")
    }
    val branchFiles = branches.flatMap { b =>
      TableState.rebuildAt(b, b.currentVersion()).files ++
        b.commits(b.base + 1, b.currentVersion()).flatMap(_.files)
    }
    val pinned = tagStates ++ baseStates
    val earliest = store.earliestRetained()
    val history = TableState.rebuildAt(store, earliest).files ++
      store.commits(earliest, keepFromVersion).flatMap(_.files)
    // a commit above CURRENT older than the grace is a dead writer's: drop
    // it (its files fall to the age rule); a younger one may still publish
    val (orphanCommits, publishing) = store.dropOrphans(cutoff)

    val live: Set[Path] = (wmState.files ++ retained.flatMap(_.files) ++ pinned.flatMap(_.files) ++
      branchFiles ++ publishing.flatMap(_.files)).map(table.localPath).toSet
    // a shallow clone's absolute references are the source table's files
    val dead: Set[Path] = history.filter(rel => PathNorm.ownedBy(table.root, PathNorm.resolve(table.root, rel)))
      .map(table.localPath).toSet

    (wmState +: pinned).foreach(store.checkpoint)

    // ---- sweep: one pass, one rule
    val dataDir = table.localPath("data")
    val listed = SweptDirs.flatMap(d => list(table.localPath(d))).filter(Files.isRegularFile(_))
    val candidates = (listed ++ dead).distinct.filterNot(live)
    val deleted = Fanout.map(candidates) { p =>
      val size =
        if (dead(p) || mtime(p) < cutoff) try Files.size(p) catch { case _: java.io.IOException => -1L }
        else -1L
      if (size >= 0 && Files.deleteIfExists(p)) Some(size) else None
    }
    val swept = candidates.zip(deleted).collect {
      case (p, Some(size)) => (dead(p), p.getParent == dataDir, size)
    }
    def count(known: Boolean, data: Boolean) = swept.count { case (k, d, _) => k == known && d == data }
    val commitsDropped = store.truncate(keepFromVersion, pinned.map(_.version).toSet)

    // crashed-writer debris: a writer that died between staging its
    // parquet output and moving it into data/ leaves a `.staging-*` dir
    // no commit will ever reference. Age-guarded on the NEWEST mtime
    // anywhere in the tree — a live long-running write keeps touching
    // files under it (StagingHeartbeat), so only a dead writer's scratch
    // ages past the grace.
    val staging = list(table.localPath(""))
      .filter(p => p.getFileName.toString.startsWith(".staging-") && newestMtime(p) < cutoff)
    staging.foreach(PathNorm.deleteTree)

    Report(keepFromVersion, count(true, true), swept.collect { case (_, true, size) => size }.sum,
      count(true, false), commitsDropped, staging.size, count(false, true), orphanCommits,
      count(false, false))
  }

  /** The entries of a directory (none if it does not exist). */
  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }

  /** A vanished file counts as fresh: it is never deleted on age. */
  private def mtime(p: Path): Long =
    try Files.getLastModifiedTime(p).toMillis catch { case _: java.io.IOException => Long.MaxValue }

  private def newestMtime(p: Path): Long = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(q => Files.getLastModifiedTime(q).toMillis)
        .foldLeft(0L)(math.max)
    } catch { case _: Exception => Long.MaxValue // vanished mid-walk: treat as live
    } finally s.close()
  }
}
