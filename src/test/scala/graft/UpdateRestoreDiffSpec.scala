package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto, Restore, SnapshotDiff, UpdateWhere}
import graft.meta._
import graft.table.TsTable

/** Round-5 maintenance verbs: UPDATE WHERE, MERGE matched-delete,
  * RESTORE-to-version, snapshot diff (change data feed). */
class UpdateRestoreDiffSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def build(rows: Int, files: Int = 4): TsTable = {
    val t = TsTable.create(tmpDir("urd"), tokenMeta)
    t.append(TokenGen.generate(spark, rows, numFiles = files))
    t
  }

  private def docIds(df: DataFrame): Set[String] =
    df.select("doc_id").collect().map(_.getString(0)).toSet

  // ---- UPDATE WHERE ----------------------------------------------------

  test("update: matched rows take SET over OLD values; others byte-identical; pruned files keep ids") {
    // two appends with DISJOINT doc_id ranges (no compaction), so the
    // doc_id predicate is provably-false on the second batch's file stats
    val t = TsTable.create(tmpDir("urd"), tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 2))
    t.append(TokenGen.generate(spark, 300, idStart = 50000L, numFiles = 2))
    val before = t.scan(spark).collect().map(r =>
      r.getString(0) -> (r.getSeq[Int](1), r.getInt(2), r.getString(3))).toMap
    val batch2Ids = t.state.liveSegments
      .filter(_.stats.get("doc_id").flatMap(_.min).exists {
        case StatVal.S(mn) => mn >= "doc-000000050000"; case _ => false
      }).map(_.segmentId).toSet
    assert(batch2Ids.size == 2)

    // simultaneous assignment: n_tok references its own old value, source
    // references old n_tok — both must see pre-update values
    val r = UpdateWhere.update(spark, t,
      col("doc_id") < "doc-000000001000" && col("source") === "src00",
      Map("n_tok" -> (col("n_tok") + 10000),
          "source" -> concat(lit("was-"), col("n_tok").cast("string"))))
    assert(r.rowsUpdated > 0 && r.rowsUpdated < 300)
    assert(r.candidates <= 2, "batch-2 files must be stats-pruned out of candidacy")

    val after = t.scan(spark).collect()
    assert(after.length == 600)
    after.foreach { row =>
      val (tok0, n0, s0) = before(row.getString(0))
      assert(row.getSeq[Int](1) == tok0) // tokens never touched
      if (s0 == "src00" && row.getString(0) < "doc-000000001000") {
        assert(row.getInt(2) == n0 + 10000)
        assert(row.getString(3) == s"was-$n0")
      } else {
        assert(row.getInt(2) == n0 && row.getString(3) == s0)
      }
    }
    // stats-pruned files keep their segment ids (bytes never moved)
    val idsAfter = t.state.liveSegments.map(_.segmentId).toSet
    assert(batch2Ids.subsetOf(idsAfter), "pruned files must survive the update")
  }

  test("update: NULL predicate rows are NOT updated; unknown SET column rejected") {
    val t = TsTable.create(tmpDir("urd-null"), tokenMeta)
    t.append(TokenGen.generate(spark, 100)
      .withColumn("source", when(col("n_tok") % 2 === 0, col("source"))))
    // predicate NULL where source is null -> those rows stay unmodified
    UpdateWhere.update(spark, t, col("source") =!= "src00",
      Map("n_tok" -> lit(-1)))
    val rows = t.scan(spark).collect()
    assert(rows.exists(_.isNullAt(3)))
    rows.foreach { r =>
      if (r.isNullAt(3) || r.getString(3) == "src00") assert(r.getInt(2) >= 0)
      else assert(r.getInt(2) == -1)
    }
    intercept[IllegalArgumentException] {
      UpdateWhere.update(spark, t, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("update: respects deletion vectors (DV'd rows neither updated nor resurrected)") {
    val t = build(400)
    DeleteWhere.deleteMor(spark, t, col("source") === "src01")
    val live = t.scan(spark).count()
    UpdateWhere.update(spark, t, lit(true), Map("source" -> lit("all")))
    val after = t.scan(spark)
    assert(after.count() == live)
    assert(after.where(col("source") =!= "all").count() == 0)
    // rewrite materialized the DVs away
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty))
  }

  // ---- MERGE … WHEN MATCHED THEN DELETE --------------------------------

  test("mergeDelete: keyed MOR delete equals predicate delete; bytes untouched") {
    val t = build(600)
    Compaction.run(spark, t, targetFileSize = 64L * 1024)
    val victims = t.scan(spark).where(col("source") === "src00").select("doc_id")
    val expected = docIds(t.scan(spark)) -- docIds(victims)
    val filesBefore = t.state.liveSegments.map(s => (s.path, s.fileSize)).toSet

    val r = MergeInto.mergeDelete(spark, t, victims)
    assert(r.rowsDeleted == 600 - expected.size && r.filesOut == 0)
    assert(docIds(t.scan(spark)) == expected)
    assert(t.state.liveSegments.map(s => (s.path, s.fileSize)).toSet == filesBefore,
      "matched-delete must not move data bytes")
    // idempotent second pass: nothing left to match
    val r2 = MergeInto.mergeDelete(spark, t, victims)
    assert(r2.rowsDeleted == 0L)
    // empty key set is a no-op
    val r3 = MergeInto.mergeDelete(spark, t, victims.where(lit(false)))
    assert(r3.rowsDeleted == 0L && r3.version == t.version)
  }

  test("mergeMor: equals COW merge row-for-row; candidate bytes untouched; one atomic commit") {
    val rows = 600
    val df = TokenGen.generate(spark, rows, numFiles = 4)
    val tMor = TsTable.create(tmpDir("urd-mor"), tokenMeta); tMor.append(df)
    val tCow = TsTable.create(tmpDir("urd-cow"), tokenMeta); tCow.append(df)
    Compaction.run(spark, tMor, targetFileSize = 8L * 1024 * 1024)
    Compaction.run(spark, tCow, targetFileSize = 8L * 1024 * 1024)

    // updates: 50 existing keys re-tokenized (distinguishable content),
    // plus 10 brand-new keys (inserts)
    val upd = TokenGen.generate(spark, 50, idStart = 100L)
      .withColumn("source", lit("revised"))
      .unionByName(TokenGen.generate(spark, 10, idStart = 50000L))

    val filesBefore = tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet
    val vBefore = tMor.version
    val rm = MergeInto.mergeMor(spark, tMor, upd)
    val rc = MergeInto.merge(spark, tCow, upd)
    assert(rm.updated == 50 && rm.inserted == 10)
    assert(rm.updated == rc.updated && rm.inserted == rc.inserted)
    // ONE commit: DV upserts + adds land atomically
    assert(tMor.version == vBefore + 1)
    // candidate bytes never moved; only NEW files appeared
    val after = tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet
    assert(filesBefore.subsetOf(after), "MOR merge must not rewrite candidate files")

    // full result parity with the COW merge (same rows, same content)
    val a = tMor.scan(spark).orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3))).toSeq
    val b = tCow.scan(spark).orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3))).toSeq
    assert(a == b)
    assert(a.count(_._4 == "revised") == 50)
    // compaction materializes the merge DVs away; content unchanged
    Compaction.run(spark, tMor, targetFileSize = 8L * 1024 * 1024)
    assert(tMor.state.liveSegments.forall(_.dvPath.isEmpty))
    assert(tMor.scan(spark).count() == rows + 10)
  }

  test("updateMor: equals COW update row-for-row; candidate bytes untouched; one commit") {
    val df = TokenGen.generate(spark, 500, numFiles = 4)
    val tMor = TsTable.create(tmpDir("urd-umor"), tokenMeta); tMor.append(df)
    val tCow = TsTable.create(tmpDir("urd-ucow"), tokenMeta); tCow.append(df)
    val cond = col("source") === "src01"
    val sets = Map("n_tok" -> (col("n_tok") + 5000),
                   "source" -> concat(lit("was-"), col("n_tok").cast("string")))

    val filesBefore = tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet
    val v0 = tMor.version
    val rm = UpdateWhere.updateMor(spark, tMor, cond, sets)
    val rc = UpdateWhere.update(spark, tCow, cond, sets)
    assert(rm.rowsUpdated == rc.rowsUpdated && rm.rowsUpdated > 0)
    assert(tMor.version == v0 + 1, "DV mask + appended images must be one commit")
    assert(filesBefore.subsetOf(tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet))

    val a = tMor.scan(spark).orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3))).toSeq
    val b = tCow.scan(spark).orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3))).toSeq
    assert(a == b)
    // no-match predicate: no commit at all
    val v1 = tMor.version
    val r0 = UpdateWhere.updateMor(spark, tMor, col("source") === "no-such", sets)
    assert(r0.rowsUpdated == 0 && tMor.version == v1)
  }

  test("mergeMor: pure-insert set (no matches) commits adds only; empty set is a no-op") {
    val t = build(200, files = 2)
    val v0 = t.version
    val r = MergeInto.mergeMor(spark, t,
      TokenGen.generate(spark, 20, idStart = 77000L))
    assert(r.updated == 0 && r.inserted == 20 && t.version == v0 + 1)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty)) // nothing masked
    assert(t.scan(spark).count() == 220)
    val r2 = MergeInto.mergeMor(spark, t, TokenGen.generate(spark, 5).where(lit(false)))
    assert(r2.updated == 0 && r2.inserted == 0 && t.version == v0 + 1)
  }

  // ---- RESTORE ----------------------------------------------------------

  test("restore: rolls back append + MOR delete metadata-only; restore itself is time-travelable") {
    val t = build(300, files = 2)
    Compaction.run(spark, t, targetFileSize = 64L * 1024)
    val pinned = t.version
    val snapshot = t.scan(spark).orderBy("doc_id").collect().toSeq

    t.append(TokenGen.generate(spark, 100, idStart = 1000L, numFiles = 2))
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 1000)
    val vBeforeRestore = t.version
    val preRestoreIds = docIds(t.scan(spark))

    val r = Restore.restore(t, pinned)
    assert(r.version > vBeforeRestore, "restore is a NEW commit")
    assert(t.scan(spark).orderBy("doc_id").collect().toSeq == snapshot)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty), "DV upserts reverted")
    // history intact: the pre-restore state is still readable
    assert(docIds(t.scanAt(spark, vBeforeRestore)) == preRestoreIds)
    // restoring to where we already are is a no-op commit-wise
    val v0 = t.version
    Restore.restore(t, r.version)
    assert(t.version == v0)
  }

  test("restore re-adding compacted-away segments survives an expire below it") {
    // append -> compact -> restore to the append: the current snapshot
    // references the pre-compaction files again, which a commit at or
    // below the watermark removed; liveness is decided per path over every
    // retained snapshot, so none of them may be swept
    val t = build(200, files = 2)
    val appended = t.version
    val want = docIds(t.scan(spark))
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    val compacted = t.version
    assert(compacted > appended, "compaction must have committed a rewrite")
    Restore.restore(t, appended)
    Thread.sleep(10) // grace-0 sweep uses strict mtime < now
    Expire.expire(t, compacted, stagingGraceMs = 0L)
    assert(docIds(TsTable.open(t.root).scan(spark)) == want)
    assert(TsTable.open(t.root).scan(spark).count() == 200)
    // the compacted snapshot is retained too
    assert(t.scanAt(spark, compacted).count() == 200)
  }

  test("restore: refuses an expired target (history compacted away, or files missing)") {
    // history reclaimed: expire drops the commits below its watermark
    // (8 MB target so the small files actually bin-pack into a rewrite)
    val t = build(200, files = 2)
    val pinned = t.version
    val r = Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    assert(t.version > pinned, "compaction must have committed a rewrite")
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    val e = intercept[IllegalArgumentException] { Restore.restore(t, pinned) }
    assert(e.getMessage.contains("reclaimed"))

    // file missing: target commits replay but a referenced (now-orphaned)
    // data file is gone from disk — refuse before committing anything
    val t2 = build(100, files = 2)
    val pinned2 = t2.version
    val victim = t2.state.liveSegments.head.path
    Compaction.run(spark, t2, targetFileSize = 8L * 1024 * 1024)
    assert(t2.version > pinned2)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"${t2.root}/$victim"))
    val e2 = intercept[IllegalArgumentException] { Restore.restore(t2, pinned2) }
    assert(e2.getMessage.contains("reclaimed"))
  }

  // ---- snapshot diff ----------------------------------------------------

  test("diff: append-only range takes the fast path (no join) and emits only inserts") {
    val t = build(200, files = 2)
    val v1 = t.version
    t.append(TokenGen.generate(spark, 50, idStart = 5000L, numFiles = 2))
    t.append(TokenGen.generate(spark, 30, idStart = 9000L, numFiles = 1))
    val d = SnapshotDiff.diff(spark, t, v1, t.version, "doc_id")
    assert(!d.queryExecution.executedPlan.toString.toLowerCase.contains("join"),
      "append-only diff must not plan a join")
    val rows = d.collect()
    assert(rows.length == 80)
    assert(rows.forall(_.getAs[String]("_change_type") == "insert"))
    assert(rows.map(_.getAs[String]("doc_id")).forall(id =>
      id >= "doc-000000005000"))
  }

  test("diff: general path classifies insert/delete/update and nets update-then-delete") {
    val t = build(300, files = 2)
    Compaction.run(spark, t, targetFileSize = 64L * 1024)
    val v1 = t.version
    val pre = t.scan(spark).collect()
      .map(r => r.getString(0) -> (r.getInt(2), r.getString(3))).toMap

    val appended = TokenGen.generate(spark, 40, idStart = 7000L, numFiles = 1)
    val appendedBySrc = appended.select("doc_id", "source").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    t.append(appended) // inserts
    // update src01 rows (bump n_tok), then delete src00 AND src01-updated-to-big
    UpdateWhere.update(spark, t, col("source") === "src01",
      Map("n_tok" -> (col("n_tok") + 100000)))
    DeleteWhere.deleteMor(spark, t,
      col("source") === "src00" || col("n_tok") >= 100000)

    val d = SnapshotDiff.diff(spark, t, v1, t.version, "doc_id").collect()
    val byType = d.groupBy(_.getAs[String]("_change_type")).view.mapValues(_.toSeq).toMap
    // inserts: appended ids that SURVIVED the window — appended-then-
    // deleted (src00/src01) rows net to no change at all
    assert(byType("insert").map(_.getAs[String]("doc_id")).toSet ==
      appendedBySrc.collect { case (id, s) if s != "src00" && s != "src01" => id }.toSet)
    // deletes: every original src00 and src01 row (src01 was updated THEN
    // deleted — nets to delete with the PRE image)
    val delIds = byType("delete").map(_.getAs[String]("doc_id")).toSet
    assert(delIds == pre.collect { case (id, (_, s)) if s == "src00" || s == "src01" => id }.toSet)
    byType("delete").foreach { r => // pre image: original n_tok, not +100000
      assert(r.getAs[Int]("n_tok") == pre(r.getAs[String]("doc_id"))._1)
    }
    // no survivors changed -> no updates reported
    assert(!byType.contains("update_pre") && !byType.contains("update_post"))

    // now a pure update window: v2 -> v3 with one source re-tagged
    val v2 = t.version
    UpdateWhere.update(spark, t, col("source") === "src02",
      Map("source" -> lit("retagged")))
    val d2 = SnapshotDiff.diff(spark, t, v2, t.version, "doc_id").collect()
    val pres = d2.filter(_.getAs[String]("_change_type") == "update_pre")
    val posts = d2.filter(_.getAs[String]("_change_type") == "update_post")
    assert(pres.nonEmpty && pres.length == posts.length && d2.length == pres.length * 2)
    assert(pres.forall(_.getAs[String]("source") == "src02"))
    assert(posts.forall(_.getAs[String]("source") == "retagged"))
  }
}
