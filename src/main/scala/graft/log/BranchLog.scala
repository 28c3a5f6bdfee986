package graft.log

import java.nio.file.{Files, Path, StandardOpenOption}

/** Branch overlay over a table's transaction log — the storage half of
  * write-audit-publish (WAP) snapshot isolation.
  *
  * A branch forks the main log at `base` (the main version current when the
  * branch was created) and continues the SAME linear version numbering in
  * its own directory:
  *
  *   `_branches/<name>/BASE`             — "base\n" (immutable fork point)
  *   `_branches/<name>/CURRENT`          — branch head (starts at base)
  *   `_branches/<name>/0000000007.json`  — branch commits, versions > base
  *
  * Versions ≤ base resolve to the MAIN log (commits and checkpoints are
  * immutable there — expiration is the one writer that drops them, and it
  * checkpoints every live branch's base first); versions > base resolve to
  * the branch directory. `TableState.rebuild` therefore replays branch
  * lineage with zero special-casing, and a `TsTable` handed a [[BranchLog]]
  * is a fully capable writer: append, MERGE, DELETE, compaction and
  * streaming ingest all land on the branch, invisible to main readers until
  * publish. Main checkpoints ABOVE base are never consulted — they reflect
  * main's fork, not this lineage.
  *
  * Data files still land under the shared `data/` root (names are UUIDs, so
  * writers never collide); [[graft.maintain.Expire]] treats every live
  * branch like a tag — its referenced files are retained and its base state
  * is checkpointed before old commits drop.
  */
final class BranchLog private (tableRoot: Path, val branch: String)
    extends LogStore(tableRoot) {

  val branchDir: Path = BranchLog.dirFor(tableRoot, branch)

  /** The immutable fork version on main. */
  val base: Long = {
    val p = branchDir.resolve("BASE")
    if (!Files.exists(p)) throw CorruptLogException(s"branch '$branch' has no BASE file")
    Files.readString(p).trim.toLong
  }

  override protected def currentFile: Path = branchDir.resolve("CURRENT")

  override def commitPath(version: Long): Path =
    if (version <= base) super.commitPath(version)
    else branchDir.resolve(f"$version%010d.json")

  override def checkpointPath(version: Long): Path =
    if (version <= base) super.checkpointPath(version)
    else branchDir.resolve(f"$version%010d.ckpt.json")

  override def initDirs(): Unit = { super.initDirs(); Files.createDirectories(branchDir) }

  /** Main checkpoints are valid only up to the fork point; beyond it the
    * branch's own (rare — expire is not run on branches) take over. */
  override def latestCheckpointVersion(maxVersion: Long): Option[Long] = {
    val fromMain = super.latestCheckpointVersion(math.min(maxVersion, base))
    val fromBranch = logFiles(branchDir)
      .collect { case f if f.checkpoint && f.version > base && f.version <= maxVersion => f.version }
      .maxOption
    (fromMain.toSeq ++ fromBranch.toSeq).maxOption
  }
}

object BranchLog {
  private val NamePattern = "[A-Za-z0-9._-]{1,64}".r

  def dirFor(tableRoot: Path, name: String): Path =
    tableRoot.resolve("_branches").resolve(name)

  def exists(tableRoot: Path, name: String): Boolean =
    Files.exists(dirFor(tableRoot, name).resolve("BASE"))

  def open(tableRoot: Path, name: String): BranchLog = {
    require(exists(tableRoot, name), s"no such branch: '$name'")
    val bl = new BranchLog(tableRoot, name)
    // heal a crash between the BASE and CURRENT writes of create():
    // an absent head pointer means no branch commit ever landed
    val cur = bl.branchDir.resolve("CURRENT")
    if (!Files.exists(cur)) Files.write(cur, s"${bl.base}\n".getBytes("UTF-8"))
    bl
  }

  /** Create a branch forked at `base`. BASE is written with CREATE_NEW so a
    * same-name race loses loudly; CURRENT starts at the fork point. */
  def create(tableRoot: Path, name: String, base: Long): BranchLog = {
    require(NamePattern.matches(name),
      s"invalid branch name '$name' (allowed: letters, digits, '.', '_', '-', max 64)")
    val dir = dirFor(tableRoot, name)
    Files.createDirectories(dir)
    try
      Files.write(dir.resolve("BASE"), s"$base\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"branch '$name' already exists")
    }
    Files.write(dir.resolve("CURRENT"), s"$base\n".getBytes("UTF-8"))
    new BranchLog(tableRoot, name)
  }

  def list(tableRoot: Path): Seq[String] = {
    val root = tableRoot.resolve("_branches")
    if (!Files.isDirectory(root)) return Nil
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.exists(p.resolve("BASE")))
        .map(_.getFileName.toString).toSeq.sorted
    } finally s.close()
  }

  def drop(tableRoot: Path, name: String): Boolean = {
    val dir = dirFor(tableRoot, name)
    if (!Files.exists(dir)) return false
    graft.meta.PathNorm.deleteTree(dir)
    true
  }
}
