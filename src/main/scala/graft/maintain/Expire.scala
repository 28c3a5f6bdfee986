package graft.maintain

import java.nio.file.{Files, Paths}
import graft.log.{TableState, VersionExpiredException}
import graft.meta.Json
import graft.table.TsTable

/** Snapshot expiration + manifest rewrite (north rule; the reference lists
  * both as roadmap — README.md:374-376, checkpoints note in
  * docs/blog/how-i-built-this/how-i-built-this.md:38-39).
  *
  * Semantics:
  *  - `expire(table, keepFromVersion)` declares versions < keepFromVersion
  *    no longer time-travelable. Data files referenced ONLY by expired
  *    versions (i.e. removed by some commit ≤ the watermark and not live in
  *    the watermark state — re-adds handled by replay) are deleted together
  *    with their coverage sidecars.
  *  - Manifest rewrite: the watermark state is written as a checkpoint
  *    (`NNNNNNNNNN.ckpt.json`) BEFORE any deletion, then commits older than
  *    the watermark are dropped — replay cost stays O(commits since last
  *    checkpoint) forever, the Iceberg/Delta checkpoint idea rebuilt on the
  *    reference's log layout. CURRENT and commit semantics are unchanged;
  *    readers at or above the watermark are untouched (snapshot isolation
  *    holds for every retained version).
  *
  * All driver-side metadata IO — O(commits + expired files), no Spark job.
  */
object Expire {

  final case class Report(watermark: Long, dataFilesDeleted: Int, bytesDeleted: Long,
                          sidecarsDeleted: Int, commitsDropped: Int,
                          stagingDirsDeleted: Int = 0,
                          unreferencedFilesDeleted: Int = 0,
                          orphanCommitsDropped: Int = 0,
                          orphanSidecarsDeleted: Int = 0)

  /** `stagingGraceMs`: `.staging-*` directories (a writer's pre-commit
    * scratch) older than this are reclaimed as crashed-writer debris. The
    * grace period is what makes this safe against writers mid-append: a
    * LIVE writer's staging dir is at most minutes old. */
  def expire(table: TsTable, keepFromVersion: Long,
             stagingGraceMs: Long = 60L * 60 * 1000): Report = {
    require(table.branchName.isEmpty,
      s"expire must run on the main table handle, not branch '${table.branchName.getOrElse("")}' — " +
        "a branch-scoped expire would drop main-log commits shared with other readers")
    val store = table.store
    val current = store.currentVersion()
    require(keepFromVersion >= 1 && keepFromVersion <= current,
      s"watermark $keepFromVersion out of range [1, $current]")
    // tags are promises that a version stays readable ACROSS expiration:
    // each tagged version below the watermark gets (a) its state
    // checkpointed — replay then needs none of the dropped commits — and
    // (b) its files excluded from every reclamation pass below
    table.refresh()
    val taggedBelow: Seq[Long] =
      table.tags.values.filter(_ < keepFromVersion).toSeq.distinct.sorted

    // live branches are promises too: their fork state must stay
    // replayable (base checkpoint + file retention, like a tag) and every
    // file a branch commit added must survive the sweep until the branch
    // is published or dropped
    val branchLogs: Seq[graft.log.BranchLog] =
      graft.log.BranchLog.list(store.tableRoot)
        .map(n => graft.log.BranchLog.open(store.tableRoot, n))
    val branchBasesBelow: Seq[Long] =
      branchLogs.map(_.base).filter(_ < keepFromVersion).distinct.sorted

    def writeCheckpoint(state: TableState, atVersion: Long): Unit = {
      val p = store.checkpointPath(atVersion)
      if (!Files.exists(p)) {
        val tmp = Files.createTempFile(store.logDir, ".ckpt", ".tmp")
        Files.writeString(tmp, Json.write(state.toJson))
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

    // 1) checkpoint the watermark state (manifest rewrite) — before deletes.
    //    Every file a retained commit (watermark..CURRENT) references is
    //    read first: from the watermark itself, since its commit file is
    //    retained and so must be its change-feed sidecars. A watermark below
    //    the retained window is refused here (VersionExpiredException):
    //    the sweep below could not see the missing commits' adds and would
    //    reclaim files still live.
    val wmState = TableState.rebuildAt(store, keepFromVersion)
    val retainedFiles = store.commits(keepFromVersion, current).flatMap(_.files)
    writeCheckpoint(wmState, keepFromVersion)

    // 2) orphans: every segment ever added at v ≤ watermark that is not
    //    live at the watermark (removed and never re-added by replay) —
    //    retained versions ≥ watermark can only reference watermark-live
    //    or later-added segments, so deletion is safe for all of them.
    //    `seen` must be seeded with the prior checkpoint's live set: those
    //    segments were added at versions ≤ the watermark too, and without
    //    the seed every compact→expire cycle after the first checkpoint
    //    would reclaim zero bytes (files removed post-checkpoint leak).
    val seen = scala.collection.mutable.Map.empty[String, graft.meta.SegmentMeta]
    val startV = store.latestCheckpointVersion(keepFromVersion - 1) match {
      case Some(ckptV) =>
        TableState.rebuildAt(store, ckptV).segments.foreach { case (id, s) => seen(id) = s }
        ckptV + 1 // earlier history already compacted away (its orphans were reclaimed then)
      case None => 1L
    }
    // (a re-expire at the same watermark starts at the retained window:
    // the gap below it was reclaimed by the expire that made it)
    store.commits(math.max(startV, store.earliestRetained()), keepFromVersion)
      .foreach(_.adds.foreach(s => seen(s.segmentId) = s))
    // tag states are rebuilt BEFORE any commit drops (their replay still
    // needs the raw commits) and AFTER the `seen` scan (the fresh tag
    // checkpoints must not shift the orphan-seed window of THIS pass);
    // a tag-live segment is never an orphan, whatever the watermark says
    // a tag or fork whose history is already gone blocks expire; name it
    def pinFor(v: Long, who: String, fix: String): TableState =
      try TableState.rebuildAt(store, v)
      catch { case e: VersionExpiredException =>
        throw new IllegalStateException(s"$who at v$v whose history is no longer " +
          s"replayable; $fix to unblock expire (${e.getMessage})", e)
      }
    val tagStates: Seq[TableState] = taggedBelow.map { tv =>
      val names = table.tags.collect { case (n, v) if v == tv => s"'$n'" }.mkString(", ")
      pinFor(tv, s"tag(s) $names point", "drop the tag(s)")
    }
    // branch fork states, rebuilt with the same before-drop discipline as
    // tags (a branch whose fork history is gone can never publish — the
    // caller must drop or publish it first)
    val branchBaseStates: Seq[TableState] = branchBasesBelow.map { bv =>
      val names = branchLogs.collect { case bl if bl.base == bv => s"'${bl.branch}'" }.mkString(", ")
      pinFor(bv, s"branch(es) $names forked", "publish or drop the branch(es)")
    }
    // branch HEAD states and every path a branch commit added — the
    // branch's own lineage must survive the sweep whole
    val branchHeadStates: Seq[TableState] = branchLogs.map { bl =>
      TableState.rebuildAt(bl, bl.currentVersion())
    }
    val branchAddPaths: Set[String] =
      branchLogs.flatMap(bl => bl.commits(bl.base + 1, bl.currentVersion()).flatMap(_.files)).toSet

    val tagLiveIds: Set[String] = tagStates.flatMap(_.segments.keySet).toSet ++
      branchBaseStates.flatMap(_.segments.keySet) ++
      branchHeadStates.flatMap(_.segments.keySet)
    val orphans = (seen -- wmState.segments.keySet -- tagLiveIds)
      .values.toSeq.sortBy(_.path)

    // round 6: the orphan sweep is embarrassingly parallel driver file IO
    // (hundreds of unlinks after every compaction at bench scale, 10^5+ at
    // production file counts) — a bounded pool overlaps the syscall
    // latency; counters are atomics, per-file work stays independent
    val bytesA = new java.util.concurrent.atomic.AtomicLong
    val filesA = new java.util.concurrent.atomic.AtomicInteger
    val sidecarsA = new java.util.concurrent.atomic.AtomicInteger
    def reclaim(seg: graft.meta.SegmentMeta): Unit = {
      // ownership guard: a shallow clone's absolute references point into
      // the SOURCE table's root — expiring the clone reclaims only its
      // manifest entries (and its own sidecars), never the source's bytes
      val resolved = graft.meta.PathNorm.resolve(table.root, seg.path)
      if (graft.meta.PathNorm.ownedBy(table.root, resolved)) {
        // a file another sweep (or a crashed writer's cleanup) removes
        // mid-pass is skipped, not fatal; bytes count only for deletes
        // this pass made itself
        val p = Paths.get(strip(resolved))
        val size = try Files.size(p) catch { case _: java.nio.file.NoSuchFileException => -1L }
        if (size >= 0 && Files.deleteIfExists(p)) {
          bytesA.addAndGet(size); filesA.incrementAndGet()
        }
      }
      seg.coveragePath.foreach { cp =>
        val cpp = Paths.get(strip(s"${table.root}/$cp"))
        if (Files.deleteIfExists(cpp)) sidecarsA.incrementAndGet()
      }
    }
    if (orphans.size < 16) orphans.foreach(reclaim)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(orphans.map(s => Future(reclaim(s)))),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    var bytes = bytesA.get(); val files = filesA.get(); val sidecars = sidecarsA.get()

    // 3) materialize the tag checkpoints, then drop commit files and stale
    //    checkpoints < watermark (replay of an untagged version now starts
    //    at the watermark checkpoint; a tagged one at its own)
    taggedBelow.zip(tagStates).foreach { case (tv, stV) => writeCheckpoint(stV, tv) }
    branchBasesBelow.zip(branchBaseStates).foreach { case (bv, stV) => writeCheckpoint(stV, bv) }
    val keepCkpt = taggedBelow.toSet ++ branchBasesBelow
    var dropped = 0
    var v = startV
    while (v < keepFromVersion) {
      if (Files.deleteIfExists(store.commitPath(v))) dropped += 1
      if (!keepCkpt(v)) Files.deleteIfExists(store.checkpointPath(v))
      v += 1
    }

    val cutoff = System.currentTimeMillis() - stagingGraceMs

    // 3b) orphan commit files ABOVE CURRENT: a writer killed between the
    //    CREATE_NEW of its commit file and the CURRENT rename leaves a
    //    commit no reader replays — and, worse, every later commit of that
    //    version passes the CURRENT check only to hit CREATE_NEW on the
    //    orphan forever: the table is wedged (the recovery gap LogStore
    //    documents). Age-guarded reclamation closes it: a genuinely racing
    //    writer finishes the rename in milliseconds, so an orphan older
    //    than the grace belongs to a dead writer — drop it and the commit
    //    path unwedges; its Add'd data files become unreferenced and fall
    //    to the sweep below. An IN-grace orphan is left alone and its adds
    //    are treated as referenced (the writer may still be mid-rename).
    var orphanCommits = 0
    val inGraceOrphanAdds = scala.collection.mutable.Set.empty[String]
    var ov = current + 1
    while (Files.exists(store.commitPath(ov))) {
      val p = store.commitPath(ov)
      val mtime = try Files.getLastModifiedTime(p).toMillis catch { case _: Exception => Long.MaxValue }
      if (mtime < cutoff) {
        if (Files.deleteIfExists(p)) orphanCommits += 1
      } else {
        try inGraceOrphanAdds ++= store.readCommit(ov).files
        catch { case _: Exception => () } // unreadable in-grace orphan: sweep age guard still protects its files
      }
      ov += 1
    }

    // 3c) unreferenced-file sweep (vacuum completeness): a writer killed
    //    AFTER moving its staged parquet into data/ but BEFORE its commit
    //    landed leaves files the commit-derived orphan set in (2) can never
    //    see. Sweep data/ and _coverage/segments/ against the full
    //    referenced set — everything live at ANY retained version: the
    //    watermark state plus every file of commits [watermark, CURRENT]
    //    (read in 1), plus in-grace orphan adds from (3b) — and delete
    //    unreferenced entries older than the grace. The age guard protects
    //    a live writer that has just moved its output and is about to
    //    commit; debris older than the grace has no owner. After this pass
    //    data/ contains EXACTLY the retained-state files plus in-grace
    //    writer output.
    val referenced = scala.collection.mutable.Set.empty[String]
    (wmState.segments.values ++ tagStates.flatMap(_.segments.values) ++
      branchBaseStates.flatMap(_.segments.values) ++
      branchHeadStates.flatMap(_.segments.values)).foreach(referenced ++= _.files)
    referenced ++= branchAddPaths
    referenced ++= retainedFiles
    referenced ++= inGraceOrphanAdds

    var unreferenced = 0; var orphanSidecars = 0
    def sweep(relDir: String, count: Boolean): Unit = {
      val dir = Paths.get(strip(s"${table.root}/$relDir"))
      if (!Files.isDirectory(dir)) return
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .filterNot(p => referenced(s"$relDir/${p.getFileName}"))
          .filter { p =>
            (try Files.getLastModifiedTime(p).toMillis catch { case _: Exception => Long.MaxValue }) < cutoff
          }
          .foreach { p =>
            val sz = try Files.size(p) catch { case _: Exception => 0L }
            if (Files.deleteIfExists(p)) {
              if (count) { unreferenced += 1; bytes += sz } else orphanSidecars += 1
            }
          }
      } finally s.close()
    }
    sweep("data", count = true)
    sweep("_coverage/segments", count = false)
    sweep("_dv", count = false) // deletion-vector sidecars age out like coverage
    // change-feed sidecars are referenced by COMMIT FILES, not state: once
    // the commits below the watermark drop, their _cdc files are debris
    sweep("_cdc", count = false)

    // 4) crashed-writer debris: a writer that died between staging its
    //    parquet output and moving it into data/ leaves a `.staging-*`
    //    dir no commit will ever reference. Age-guarded on the NEWEST
    //    mtime anywhere in the tree — a live long-running write keeps
    //    touching files under _temporary/, so only a genuinely dead
    //    writer's scratch ages past the grace (the top-level dir mtime
    //    alone is set at creation and would misjudge a multi-hour write).
    var stagingDeleted = 0
    val rootPath = Paths.get(strip(table.root))
    if (Files.isDirectory(rootPath)) {
      val s = Files.list(rootPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(".staging-"))
          .filter(p => newestMtime(p) < cutoff)
          .foreach { p => deleteTree(p); stagingDeleted += 1 }
      } finally s.close()
    }
    Report(keepFromVersion, files, bytes, sidecars, dropped, stagingDeleted,
      unreferenced, orphanCommits, orphanSidecars)
  }

  private def newestMtime(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(q => Files.getLastModifiedTime(q).toMillis)
        .foldLeft(0L)(math.max)
    } catch { case _: Exception => Long.MaxValue // vanished mid-walk: treat as live
    } finally s.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.foreach(deleteTree) }
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def strip(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}
