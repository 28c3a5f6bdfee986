package graft.log

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import graft.meta.Json

/** Typed errors mirroring the reference's taxonomy
  * (python/src/timeseries_table_format/_native.pyi:7-20). */
final case class ConflictException(expected: Long, found: Long)
  extends RuntimeException(s"commit conflict: expected version $expected, found $found")
final case class CommitFileExistsException(version: Long)
  extends RuntimeException(s"commit file for version $version already exists (lost race)")
final case class CorruptLogException(msg: String) extends RuntimeException(msg)

/** `version` cannot be read: commit `missing`, which it needs, was dropped
  * by snapshot expiration; `earliest` is the oldest commit the log holds. */
final case class VersionExpiredException(version: Long, missing: Long, earliest: Long)
  extends IllegalArgumentException(
    s"v$version is no longer readable: its history was reclaimed (expired by snapshot " +
      s"retention: missing commit file for version $missing; earliest retained commit is v$earliest)")

/** Append-only transaction log with optimistic concurrency.
  *
  * Layout mirrors the reference (storage/layout.rs:39-62):
  *   `_timeseries_log/CURRENT`              — "N\n"
  *   `_timeseries_log/0000000001.json`      — Commit v1… (10-digit pad)
  *   `_timeseries_log/0000000010.ckpt.json` — state checkpoint (ours; the
  *     reference lists checkpoints as roadmap, docs/blog/how-i-built-this.md:38-39)
  *
  * Commit protocol (reference log_store.rs:116-207 semantics, reproduced):
  *   1. advisory guard: read CURRENT; mismatch → Conflict{expected,found}
  *      (lets callers rebase/retry without touching the FS further);
  *   2. REAL guard: atomic create-new (`O_CREAT|O_EXCL`) of the commit file —
  *      a lost race surfaces as CommitFileExists, deliberately distinct from
  *      Conflict so a Delta-style rebase-retry loop can tell them apart;
  *   3. CURRENT updated via temp-file + atomic rename. Crash between 2 and 3
  *      leaves an orphan commit > CURRENT which readers ignore (same
  *      documented recovery gap as log_store.rs:130-146); `dropOrphans`
  *      reclaims it once it is older than expiration's grace period.
  *
  * All of this is DRIVER-side metadata IO — tiny JSON files. Data-plane work
  * is Spark jobs; at 1000 executors the log is never a shuffle participant.
  */
class LogStore(val tableRoot: Path) {
  val logDir: Path = tableRoot.resolve("_timeseries_log")
  /** Where this log's head pointer lives — a branch overlay ([[BranchLog]])
    * redirects it into the branch directory while sharing the main log's
    * committed prefix. */
  protected def currentFile: Path = logDir.resolve("CURRENT")

  def commitPath(version: Long): Path = logDir.resolve(f"$version%010d.json")
  def checkpointPath(version: Long): Path = logDir.resolve(f"$version%010d.ckpt.json")

  def initDirs(): Unit = {
    Files.createDirectories(logDir)
    Files.createDirectories(tableRoot.resolve("data"))
    Files.createDirectories(tableRoot.resolve("_coverage").resolve("segments"))
    Files.createDirectories(tableRoot.resolve("_coverage").resolve("table"))
  }

  /** 0 when the table has no commits yet. */
  def currentVersion(): Long = {
    if (!Files.exists(currentFile)) return 0L
    val s = Files.readString(currentFile).trim
    if (s.isEmpty) throw CorruptLogException("CURRENT is empty")
    try java.lang.Long.parseLong(s)
    catch { case _: NumberFormatException =>
      throw CorruptLogException(s"CURRENT is not a number: '$s'") }
  }

  def readCommit(version: Long): Commit = readFor(version, version)

  /** Commit `v`, read on the way to `target`. A commit missing below the
    * newest checkpoint was dropped by snapshot expiration, so `target` is
    * refused as expired; any other gap is corruption. */
  private[log] def readFor(target: Long, v: Long): Commit = {
    val text = try Files.readString(commitPath(v)) catch { case _: NoSuchFileException =>
      if (latestCheckpointVersion(currentVersion()).exists(v < _))
        throw VersionExpiredException(target, v, earliestRetained())
      throw CorruptLogException(s"missing commit file for version $v")
    }
    val c = try Commit.fromJson(Json.parse(text))
    catch { case e: Exception if !e.isInstanceOf[CorruptLogException] =>
      throw CorruptLogException(s"unreadable commit $v: ${e.getMessage}") }
    if (c.version != v)
      throw CorruptLogException(s"commit file $v declares version ${c.version}")
    c
  }

  /** Commits `from..to` in order — the one walk over the log. `to` past
    * CURRENT is refused (a commit file above it is a crashed writer's
    * orphan that no committed state names); a `from` below the retained
    * window throws [[VersionExpiredException]]. */
  def commits(from: Long, to: Long): IndexedSeq[Commit] = {
    val current = currentVersion()
    require(from >= 1 && to <= current, s"commit range v$from..v$to outside [1, $current]")
    (from to to).map(readFor(from, _))
  }

  /** The oldest commit of the retained window (commits from here to
    * CURRENT are all on disk). Expiration drops the commits below the
    * checkpoint it writes, so the window reaches down from the newest
    * checkpoint; with none, nothing was dropped and it starts at 1. */
  def earliestRetained(): Long = latestCheckpointVersion(currentVersion()) match {
    case None => 1L
    case Some(c) =>
      var v = c + 1
      while (v > 1 && Files.exists(commitPath(v - 1))) v -= 1
      v
  }

  /** OCC commit; returns the new version. */
  def commitWithExpectedVersion(expected: Long, actions: Seq[LogAction]): Long = {
    val found = currentVersion()
    if (found != expected) throw ConflictException(expected, found)
    val newVersion = expected + 1
    val commit = Commit(newVersion, expected, System.currentTimeMillis(), actions)
    initDirs()
    val target = commitPath(newVersion)
    try {
      Files.write(target, (Json.write(commit.toJson) + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw CommitFileExistsException(newVersion)
    }
    try writeCurrentAtomic(newVersion)
    catch { case e: Throwable =>
      // abort must be CLEAN: the commit file was durably created above, so
      // a failure here (disk full, interrupt) would otherwise strand an
      // orphan commit for newVersion while CURRENT still names `expected` —
      // every later commit then passes the version check but hits
      // CREATE_NEW on the orphan (CommitFileExists) forever, and the
      // caller's cleanup paths may already have deleted the data files the
      // orphan references, so adopting it by hand would be wrong too.
      // Deleting the just-created commit file makes the failed commit
      // invisible and the table retryable.
      try Files.deleteIfExists(target) catch { case _: Exception => () }
      throw e
    }
    newVersion
  }

  /** temp + fsync + atomic rename (reference storage/io.rs:81-131). The
    * force() before the move is what makes the claim true: rename alone
    * can become durable before the temp file's DATA does, leaving an
    * empty CURRENT after power loss — an unopenable table. */
  private def writeCurrentAtomic(version: Long): Unit = {
    val tmp = Files.createTempFile(currentFile.getParent, ".CURRENT", ".tmp")
    val ch = java.nio.channels.FileChannel.open(tmp, StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(s"$version\n".getBytes("UTF-8")))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Latest checkpoint at version ≤ maxVersion, if any. */
  def latestCheckpointVersion(maxVersion: Long): Option[Long] =
    logFiles(logDir).collect { case f if f.checkpoint && f.version <= maxVersion => f.version }.maxOption

  /** Write `state` as the checkpoint of its version: atomic (temp file +
    * rename, so replay never sees half a checkpoint) and idempotent (an
    * existing checkpoint is kept). */
  def checkpoint(state: TableState): Unit = {
    val p = checkpointPath(state.version)
    if (!Files.exists(p)) {
      val tmp = Files.createTempFile(logDir, ".ckpt", ".tmp")
      Files.writeString(tmp, Json.write(state.toJson))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Snapshot expiration's log half: drop every commit file below `below`
    * and every checkpoint below it but those of `keepCheckpoints` (tags,
    * branch forks). Lists the log, so nothing an earlier expire left is
    * missed. Returns the commits dropped. */
  def truncate(below: Long, keepCheckpoints: Set[Long]): Int =
    logFiles(logDir).count { f =>
      f.version < below && !(f.checkpoint && keepCheckpoints(f.version)) &&
        Files.deleteIfExists(f.path) && !f.checkpoint
    }

  /** Commit files above CURRENT are crashed writers' orphans (step 2 done,
    * step 3 never), and each one wedges every later commit of its version
    * on CREATE_NEW. Drops those last modified before `cutoff` and returns
    * how many, with the younger ones that parse: their writer may still be
    * about to rename CURRENT. */
  def dropOrphans(cutoff: Long): (Int, Seq[Commit]) = {
    val current = currentVersion()
    def mtime(p: Path) = scala.util.Try(Files.getLastModifiedTime(p).toMillis).getOrElse(Long.MaxValue)
    val (old, young) = logFiles(logDir).filter(f => !f.checkpoint && f.version > current)
      .partition(f => mtime(f.path) < cutoff)
    (old.count(f => Files.deleteIfExists(f.path)),
      young.flatMap(f => scala.util.Try(readCommit(f.version)).toOption))
  }

  /** Every commit and checkpoint file in `dir`. */
  private[log] def logFiles(dir: Path): Seq[LogStore.LogFile] = {
    if (!Files.isDirectory(dir)) return Nil
    val it = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.toList.flatMap { p =>
        LogStore.FileName.unapplySeq(p.getFileName.toString)
          .map(g => LogStore.LogFile(g.head.toLong, g(1) != null, p))
      }
    } finally it.close()
  }
}

object LogStore {
  /** A commit (`NNNNNNNNNN.json`) or checkpoint (`NNNNNNNNNN.ckpt.json`) file. */
  private[log] final case class LogFile(version: Long, checkpoint: Boolean, path: Path)
  private val FileName = """(\d{10,})(\.ckpt)?\.json""".r
  def apply(root: String): LogStore = new LogStore(Paths.get(root))
}
