package graft.meta

/** One canonical local-path normalization for the whole engine — the
  * previous near-copies (table staging, streaming appId, DELETE's
  * per-file attribution, expiration, the staging heartbeat) had already
  * started to diverge on opaque URIs and URI-hostile characters — and the
  * one recursive local delete. */
object PathNorm {

  /** Strip a file: scheme down to the local path; non-file URIs and
    * URI-hostile inputs pass through unchanged. */
  def stripFileScheme(p: String): String =
    if (p.startsWith("file:"))
      try Option(new java.net.URI(p).getPath).getOrElse(p)
      catch { case _: Exception => p }
    else p

  /** Resolve a manifest data path against its table root. Segment paths
    * are root-relative EXCEPT external references written by shallow
    * CLONE, which are absolute (leading '/' or a URI scheme) and resolve
    * to themselves — the reader of a clone scans the source's files in
    * place, zero copies. */
  def resolve(root: String, p: String): String =
    if (p.startsWith("/") || p.startsWith("file:") || p.contains("://")) p
    else s"$root/$p"

  /** True iff a resolved data path lives under the table's own root —
    * the ownership test every file-DELETING verb must pass before
    * reclaiming: a shallow clone's absolute references point into the
    * SOURCE table and are never the clone's to delete. */
  def ownedBy(root: String, resolved: String): Boolean = {
    val r = canonical(root) + "/"
    canonical(resolved).startsWith(r)
  }

  /** Canonical absolute form for comparing local paths from different
    * producers (user-supplied roots with trailing slashes or relative
    * segments vs. input_file_name() URIs): scheme stripped, resolved
    * against the working directory, dot-segments removed. Non-local URIs
    * (s3a://…) pass through scheme-stripped only. */
  def canonical(p: String): String = {
    val raw = stripFileScheme(p)
    if (raw.contains(":/")) raw // non-local URI: no filesystem resolution
    else
      try java.nio.file.Paths.get(raw).toAbsolutePath.normalize.toString
      catch { case _: Exception => raw }
  }

  /** Delete a local file or directory tree, children first; a symbolic
    * link is removed, never followed. */
  def deleteTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = java.nio.file.Files.list(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.foreach(deleteTree) }
      finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
