package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto, Restore}
import graft.meta._
import graft.table.TsTable

/** SHALLOW CLONE: a metadata-only table copy referencing the source's
  * data files in place, diverging copy-on-write. */
class CloneSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def dataFiles(root: String): Set[String] = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) return Set.empty
    val s = Files.list(d)
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSet }
    finally s.close()
  }

  test("clone reads the pinned snapshot with zero copied data files; writes diverge both ways") {
    val srcRoot = tmpDir("clone-src"); val dstRoot = tmpDir("clone-dst") + "/t"
    val t = TsTable.create(srcRoot, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 3))
    t.addCheck(spark, "ntok_pos", "n_tok > 0")
    val want = t.scan(spark).orderBy("doc_id").collect().toSeq

    val c = t.cloneTo(dstRoot)
    // zero data bytes landed under the clone; manifest references resolve
    assert(dataFiles(dstRoot).isEmpty, "shallow clone copied data files")
    assert(c.scan(spark).orderBy("doc_id").collect().toSeq == want)
    // metadata (schema + checks) traveled; the check still gates writes
    intercept[Exception] {
      c.append(TokenGen.generate(spark, 10, idStart = 8000)
        .withColumn("n_tok", lit(-1)))
    }

    // divergence: a write to the clone is invisible to the source…
    c.append(TokenGen.generate(spark, 50, idStart = 5000))
    assert(c.scan(spark).count() == 350)
    assert(t.scan(spark).count() == 300)
    // …and a write to the source is invisible to the clone
    t.append(TokenGen.generate(spark, 20, idStart = 7000))
    assert(t.scan(spark).count() == 320)
    assert(c.scan(spark).count() == 350)

    // pinned-version clone: the snapshot BEFORE the source's last append
    val c2 = t.cloneTo(tmpDir("clone-dst2") + "/t", at = Some(t.version - 1))
    assert(c2.scan(spark).count() == 300)
  }

  test("maintenance on a clone materializes locally; its expire never deletes source bytes") {
    val srcRoot = tmpDir("clone-m-src"); val dstRoot = tmpDir("clone-m-dst") + "/t"
    val t = TsTable.create(srcRoot, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 4))
    val srcFiles = dataFiles(srcRoot)
    val want = t.scan(spark).orderBy("doc_id").collect().toSeq

    val c = t.cloneTo(dstRoot)
    // CoW DELETE on the clone rewrites survivors under the CLONE's root
    DeleteWhere.delete(spark, c, col("doc_id") < "doc-000000000100")
    assert(c.scan(spark).count() == 300)
    assert(dataFiles(dstRoot).nonEmpty, "CoW rewrite did not land under the clone root")
    // MOR delete + merge keep working against mixed local/external files
    DeleteWhere.deleteMor(spark, c, col("doc_id") >= "doc-000000000380")
    MergeInto.merge(spark, c, TokenGen.generate(spark, 10, idStart = 200))
    assert(c.scan(spark).count() == 280)

    // compaction folds every remaining external reference into local files
    Compaction.run(spark, c, targetFileSize = 64L * 1024 * 1024)
    assert(c.state.liveSegments.forall(s => !s.path.startsWith("/")),
      s"external refs survived compaction: ${c.state.liveSegments.map(_.path)}")

    // expire on the clone reclaims its own orphans only — every source
    // byte survives and the source still reads its full snapshot
    Expire.expire(c, c.version, stagingGraceMs = 0L)
    assert(dataFiles(srcRoot) == srcFiles, "clone expire deleted source files")
    assert(t.scan(spark).orderBy("doc_id").collect().toSeq == want)

    // and source expire is equally blind to the (now self-contained) clone
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    assert(c.scan(spark).count() == 280)
  }

  test("clone of a DV'd + renamed table: sidecars copied, mapping travels, clone-side DVs stay local") {
    val srcRoot = tmpDir("clone-dv-src"); val dstRoot = tmpDir("clone-dv-dst") + "/t"
    val t = TsTable.create(srcRoot, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 3))
    DeleteWhere.deleteMor(spark, t, col("doc_id") < "doc-000000000050")
    t.renameColumn("tokens", "token_ids")
    val want = t.scan(spark).orderBy("doc_id").collect().toSeq
    assert(want.size == 250)

    val c = t.cloneTo(dstRoot)
    assert(c.scan(spark).orderBy("doc_id").collect().toSeq == want)
    assert(c.scan(spark).columns.contains("token_ids"))
    // the clone's DV sidecars are its own copies: deleting more rows on
    // the clone must not disturb the source's masks
    DeleteWhere.deleteMor(spark, c, col("doc_id") < "doc-000000000080")
    assert(c.scan(spark).count() == 220)
    assert(t.scan(spark).count() == 250)

    // guards: same root refused, clone-at-reclaimed-version refused
    intercept[IllegalArgumentException] { t.cloneTo(srcRoot) }
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    intercept[IllegalArgumentException] { t.cloneTo(tmpDir("clone-x") + "/t", at = Some(2L)) }
  }

  test("tag, scanAtTag and restore on a clone see the cloned snapshot") {
    val srcRoot = tmpDir("clone-tag-src"); val dstRoot = tmpDir("clone-tag-dst") + "/t"
    val t = TsTable.create(srcRoot, tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    // a DV sidecar, so the clone's v1 mixes its own (copied) sidecars with
    // the source's data files referenced in place
    DeleteWhere.deleteMor(spark, t, col("doc_id") < "doc-000000000020")
    val want = t.scan(spark).orderBy("doc_id").collect().toSeq
    assert(want.size == 180)

    val c = t.cloneTo(dstRoot)
    c.append(TokenGen.generate(spark, 30, idStart = 5000, numFiles = 1))
    c.setTag("first", Some(1L))
    assert(c.scanAtTag(spark, "first").orderBy("doc_id").collect().toSeq == want)
    val r = Restore.restore(c, 1L)
    assert(r.filesRemoved == 1 && r.filesAdded == 0 && r.rowsAfter == 180)
    assert(c.scan(spark).orderBy("doc_id").collect().toSeq == want)
    assert(t.scan(spark).orderBy("doc_id").collect().toSeq == want)
  }
}
