package graft.table

import java.nio.file.{Files, Path, Paths}

/** Liveness beacon for a writer's `.staging-*` scratch tree.
  *
  * `Expire` reclaims staging dirs whose newest mtime is older than a grace
  * period — but `df.write` creates the staging dir at job SETUP, and a
  * large append/compaction/MERGE can spend longer than the grace in
  * upstream shuffle/sort stages without touching anything under the tree,
  * so a concurrent expire could delete a live writer's staging dir out
  * from under its in-flight commit. The beacon closes that window: a
  * driver-side daemon thread touches `<staging>/.heartbeat` every
  * `intervalMs` from before the write starts until the writer is done, so
  * the tree's newest mtime is never older than the interval while the
  * writer lives. A crashed writer's thread dies with its JVM and the tree
  * ages out normally.
  */
private[graft] final class StagingHeartbeat private (dir: Path, intervalMs: Long) {
  private val hb = dir.resolve(".heartbeat")
  @volatile private var done = false
  private val thread = new Thread(() => {
    while (!done) {
      try {
        // write (not just setLastModifiedTime) so the first touch also
        // creates the file; every write bumps the mtime Expire walks
        if (Files.isDirectory(dir)) Files.write(hb, Array.emptyByteArray)
      } catch { case _: Exception => () } // staging may vanish mid-touch; benign
      try Thread.sleep(intervalMs)
      catch { case _: InterruptedException => () } // stop() wakes us to exit
    }
  }, s"graft-staging-heartbeat-${dir.getFileName}")

  /** Join the beacon thread, then remove its file (and the dir, if the
    * beacon's file was the only thing left) so a clean writer leaves no
    * debris. Join-first means no touch can race the deletes. */
  def stop(): Unit = {
    done = true
    thread.interrupt()
    try thread.join(5000) catch { case _: InterruptedException => () }
    try {
      Files.deleteIfExists(hb)
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        val empty = try !s.iterator().hasNext finally s.close()
        if (empty) Files.deleteIfExists(dir)
      }
    } catch { case _: Exception => () }
  }
}

private[graft] object StagingHeartbeat {
  def start(stagingAbs: String, intervalMs: Long = 60000L): StagingHeartbeat = {
    val dir = Paths.get(graft.meta.PathNorm.stripFileScheme(stagingAbs))
    // Do NOT pre-create the dir: before the committer creates it there is
    // nothing for Expire to reclaim, and pre-creating it (plus the first
    // .heartbeat touch) would force df.write mode("overwrite") to clear a
    // non-empty tree — a touch racing that list-then-remove can fail the
    // job with "unable to clear output directory". The touch loop guards
    // on isDirectory, so beating starts once the committer makes the dir.
    val h = new StagingHeartbeat(dir, intervalMs)
    h.thread.setDaemon(true)
    h.thread.start()
    h
  }
}
