package graft.maintain

import org.apache.spark.sql.functions._
import graft.SparkFunSuite
import graft.data.TokenGen
import graft.meta._
import graft.table.{ConcurrentSegmentChangeException, TsTable}

/** OCC abort paths of the merge-on-read commit: a DV attach prepared
  * against one snapshot must REFUSE to land over a concurrently rewritten
  * or re-DV'd base (its bitmaps were unioned against that base's DVs —
  * applying them elsewhere would silently drop the other writer's
  * deletes), and the abort must leave no sidecar debris. */
class MorConcurrencySpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def dvFiles(root: String): Seq[String] = {
    val d = java.nio.file.Paths.get(s"$root/_dv")
    if (!java.nio.file.Files.isDirectory(d)) return Nil
    val s = java.nio.file.Files.list(d)
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq }
    finally s.close()
  }

  test("DV attach aborts when a concurrent compaction rewrote the candidates; no debris") {
    val root = tmpDir("mor-occ")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 4))
    val candidates = t.state.liveSegments

    val base = RowLevel.morBase(spark, t, candidates)(raw =>
      raw.select(
        col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__i"),
        (col("n_tok") < 900).as("__m"),
        RowLevel.bucketExpr(t).as("__b")))
    val e = intercept[ConcurrentSegmentChangeException] {
      t.transact() { tx =>
        // prepare the MOR plan against the current snapshot (sidecars written)
        RowLevel.morCompute(spark, t, tx, candidates, base).get
        assert(dvFiles(root).nonEmpty, "plan sidecars staged")
        // concurrent writer swaps the candidate files away
        Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
      }
    }
    assert(e.getMessage.contains("already rewritten"))
    assert(dvFiles(root).isEmpty, "aborted attach must leave no sidecars")
    // table unharmed: full row count, no DVs
    assert(t.scan(spark).count() == 400)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty))
  }

  test("copy-on-write swap aborts when a concurrent MOR delete re-DV'd its inputs") {
    // the mirror race of the DV-attach guard: a rewrite that read its
    // inputs under the OLD deletion-vector state must not commit over a
    // concurrently attached DV — it would resurrect the masked rows
    val root = tmpDir("mor-swap")
    val t = graft.table.TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val inputs = t.state.liveSegments
    // the rewrite's read, planned under the current (DV-free) snapshot
    val rewriteDf = spark.read.parquet(inputs.map(s => s"$root/${s.path}"): _*)

    // concurrent MOR delete lands first
    val del = DeleteWhere.deleteMor(spark, t, col("source") === "src00")
    assert(del.rowsDeleted > 0)
    val liveAfterDelete = t.scan(spark).count()

    val e = intercept[ConcurrentSegmentChangeException] {
      t.transact() { tx => tx.remove(inputs); tx.stage(rewriteDf) }
    }
    assert(e.getMessage.contains("re-DV'd"))
    // nothing resurrected, no orphan output committed
    t.refresh()
    assert(t.scan(spark).count() == liveAfterDelete)
    assert(t.scan(spark).where(col("source") === "src00").count() == 0)
  }

  test("adds-only restore of DV'd segments: diff takes the join path, stream skips it") {
    val root = tmpDir("mor-restore-adds")
    val t = graft.table.TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 1))
    // v: DV attach; then fully remove the survivors (metadata-only)
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 1000)
    val vDv = t.version
    val liveAtDv = t.scan(spark).count()
    assert(liveAtDv > 0 && liveAtDv < 300)
    DeleteWhere.delete(spark, t, org.apache.spark.sql.functions.lit(true))
    val vEmpty = t.version
    assert(t.scan(spark).count() == 0)
    // restore to the DV'd snapshot: the diff vs empty is ADDS-ONLY, and
    // the re-added segment carries its deletion vector
    Restore.restore(t, vDv)
    val vRestored = t.version
    val restoredCommit = t.store.readCommit(vRestored)
    assert(!restoredCommit.actions.exists(_.isInstanceOf[graft.log.LogAction.RemoveSegment]))
    assert(restoredCommit.actions.exists {
      case graft.log.LogAction.AddSegment(s) => s.dvPath.isDefined; case _ => false
    })

    // diff over that range must NOT take the raw-file fast path: inserts
    // are exactly the LIVE rows of the restored snapshot
    val d = SnapshotDiff.diff(spark, t, vEmpty, vRestored, "doc_id")
    assert(d.count() == liveAtDv)
    assert(d.queryExecution.executedPlan.toString.contains("Join"),
      "DV-carrying adds-only commit must use the general diff path")

    // a stream tailing from the restore must SKIP it (change commit), not
    // replay the raw file (which would emit the DV-masked rows)
    val out = tmpDir("mor-restore-out"); val ckpt = tmpDir("mor-restore-ckpt")
    val q = t.readStream(spark, Map(
        "skipChangeCommits" -> "true", "startingVersion" -> vRestored.toString))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    assert(emitted == 0L, "DV-carrying adds-only commit must be skipped by the stream")
  }

  test("DV attach aborts when candidates were re-DV'd by a concurrent DELETE") {
    val root = tmpDir("mor-occ2")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val candidates = t.state.liveSegments

    val e = intercept[ConcurrentSegmentChangeException] {
      t.transact() { tx =>
        RowLevel.morCompute(spark, t, tx, candidates,
          RowLevel.morBase(spark, t, candidates)(raw =>
            raw.select(
              col("_metadata.file_path").as("__f"),
              col("_metadata.row_index").as("__i"),
              (col("source") === "src00").as("__m"),
              RowLevel.bucketExpr(t).as("__b")))).get
        // concurrent MOR delete re-DVs the same files (same ids survive)
        DeleteWhere.deleteMor(spark, t, col("source") === "src01")
        assert(t.state.liveSegments.exists(_.dvPath.isDefined))
      }
    }
    assert(e.getMessage.contains("re-DV'd"))
    // the concurrent delete's own masks are intact: a re-run of the failed
    // delete sees the refreshed base and both deletes compose
    DeleteWhere.deleteMor(spark, t, col("source") === "src00")
    assert(t.scan(spark)
      .where(col("source") === "src00" || col("source") === "src01").count() == 0)
  }
}
