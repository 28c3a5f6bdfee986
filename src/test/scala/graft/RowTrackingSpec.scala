package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, MergeInto, UpdateWhere}
import graft.meta._
import graft.table.TsTable

/** Row tracking: stable `_row_id` + `_row_commit` across every verb. */
class RowTrackingSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  /** doc_id -> (_row_id, _row_commit) snapshot of the current scan. */
  private def idMap(t: TsTable): Map[String, (Long, Long)] =
    t.scanWithRowIds(spark).select("doc_id", "_row_id", "_row_commit").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("enable backfills live segments; appends mint contiguous disjoint ranges") {
    val t = TsTable.create(tmpDir("rt-enable"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    val vEnable = t.enableRowTracking()
    assert(t.rowTrackingEnabled)
    assert(t.state.liveSegments.forall(s => s.baseRowId.isDefined && s.rowVersion.isDefined))
    assert(t.meta.rowIdHighWater == 100L)

    val m1 = idMap(t)
    assert(m1.size == 100)
    assert(m1.values.map(_._1).toSeq.sorted == (0L until 100L))
    // backfilled rows are identified as-of enablement
    assert(m1.values.forall(_._2 == vEnable))

    val vApp = t.append(TokenGen.generate(spark, 50, idStart = 9000L))
    assert(t.meta.rowIdHighWater == 150L)
    val m2 = idMap(t)
    assert(m2.size == 150)
    assert(m2.values.map(_._1).toSeq.sorted == (0L until 150L))
    // old rows untouched; new rows stamped with the appending commit
    m1.foreach { case (k, v) => assert(m2(k) == v) }
    assert(m2.filterNot(kv => m1.contains(kv._1)).values
      .forall(v => v._1 >= 100L && v._2 == vApp))

    // idempotent re-enable; disable/re-enable keeps assignments
    assert(t.enableRowTracking() == t.version)
    t.disableRowTracking()
    intercept[Exception] { t.scanWithRowIds(spark) }
    t.enableRowTracking()
    assert(idMap(t) == m2)
  }

  test("ids and commit versions survive compaction / re-clustering byte-for-byte") {
    val t = TsTable.create(tmpDir("rt-compact"), tokenMeta)
    t.append(TokenGen.generate(spark, 120, numFiles = 3))
    t.enableRowTracking()
    t.append(TokenGen.generate(spark, 80, idStart = 5000L, numFiles = 2))
    val before = idMap(t)

    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(t.state.liveSegments.size < 5)
    // rewritten files carry MATERIALIZED tracking columns
    assert(t.state.liveSegments.exists(_.stats.contains("_row_id")))
    assert(idMap(t) == before)

    // a second re-cluster under a different curve preserves them again
    // (fresh small files alongside the compacted one force a real bin)
    t.alterClusterBy(Seq("source", "n_tok", "doc_id"), "hilbert")
    t.append(TokenGen.generate(spark, 40, idStart = 8000L, numFiles = 2))
    val before2 = idMap(t)
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(idMap(t) == before2)
    before.foreach { case (k, v) => assert(before2(k) == v) }
  }

  test("DELETE keeps survivor ids: merge-on-read and copy-on-write") {
    val t = TsTable.create(tmpDir("rt-del"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    t.enableRowTracking()
    val before = idMap(t)

    DeleteWhere.deleteMor(spark, t, col("n_tok") % 7 === 0)
    val afterMor = idMap(t)
    assert(afterMor.size < before.size)
    afterMor.foreach { case (k, v) => assert(before(k) == v) }

    DeleteWhere.delete(spark, t, col("n_tok") % 7 === 1)
    val afterCow = idMap(t)
    assert(afterCow.size < afterMor.size)
    afterCow.foreach { case (k, v) => assert(afterMor(k) == v) }
  }

  test("UPDATE keeps ids and bumps _row_commit on touched rows only (CoW and MOR)") {
    val t = TsTable.create(tmpDir("rt-upd"), tokenMeta)
    t.append(TokenGen.generate(spark, 150, numFiles = 2))
    t.enableRowTracking()
    val before = idMap(t)

    val vCow = { UpdateWhere.update(spark, t, col("n_tok") % 5 === 0,
      Map("n_tok" -> (col("n_tok") + lit(10000)))); t.version }
    val afterCow = idMap(t)
    assert(afterCow.keySet == before.keySet)
    val touched = t.scanWithRowIds(spark).where(col("n_tok") >= 10000)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(touched.nonEmpty)
    afterCow.foreach { case (k, (id, cv)) =>
      assert(id == before(k)._1, s"row id drifted for $k")
      if (touched(k)) assert(cv == vCow, s"touched row $k should carry v$vCow")
      else assert(cv == before(k)._2, s"untouched row $k drifted to v$cv")
    }

    val vMor = { UpdateWhere.updateMor(spark, t, col("n_tok") >= 10000,
      Map("n_tok" -> (col("n_tok") - lit(10000)))); t.version }
    val afterMor = idMap(t)
    assert(afterMor.keySet == before.keySet)
    afterMor.foreach { case (k, (id, cv)) =>
      assert(id == before(k)._1)
      if (touched(k)) assert(cv == vMor) else assert(cv == before(k)._2)
    }
  }

  test("MERGE: matched rows keep ids and bump _row_commit; inserts mint fresh ids") {
    def run(mor: Boolean): Unit = {
      val t = TsTable.create(tmpDir(s"rt-merge-$mor"), tokenMeta)
      t.append(TokenGen.generate(spark, 100, numFiles = 2))
      t.enableRowTracking()
      val before = idMap(t)

      // 20 revisions of existing keys + 10 brand-new keys
      val updIds = (0L until 20L).map(i => f"doc-$i%012d") ++
        (9000L until 9010L).map(i => f"doc-$i%012d")
      val upd = TokenGen.generateForIds(spark, updIds, salt = "rev")
      val vMerge = {
        if (mor) MergeInto.mergeMor(spark, t, upd) else MergeInto.merge(spark, t, upd)
        t.version
      }
      val after = idMap(t)
      assert(after.size == 110)
      val matchedKeys = updIds.take(20).toSet
      val insertKeys = updIds.drop(20).toSet
      after.foreach { case (k, (id, cv)) =>
        if (matchedKeys(k)) {
          assert(id == before(k)._1, s"[$mor] matched $k lost its id")
          assert(cv == vMerge, s"[$mor] matched $k not stamped v$vMerge")
        } else if (insertKeys(k)) {
          assert(id >= 100L, s"[$mor] insert $k should mint a fresh id, got $id")
          assert(cv == vMerge)
        } else {
          assert((id, cv) == before(k), s"[$mor] survivor $k drifted")
        }
      }
      // global uniqueness after the merge
      assert(after.values.map(_._1).toSeq.distinct.size == 110)

      // minted ids sit in merge outputs that also carry materialized ids:
      // the `_row_id` footer stats cover only the carried ones, so both
      // row-id reads must also consult the files' positional intervals
      val minted = insertKeys.toSeq.map(k => after(k)._1).sorted
      val window = after.collect {
        case (k, (id, _)) if id >= minted.head && id <= minted.last => k -> id }
      val got = t.scanRowIdRange(spark, minted.head, minted.last)
        .select("doc_id", "_row_id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == window, s"[$mor] scanRowIdRange lost minted ids")
      import spark.implicits._
      val rep = graft.maintain.RowIdOps.deleteByRowIds(spark, t, minted.toDF("_row_id"))
      assert(rep.rowsDeleted == 10, s"[$mor] deleteByRowIds of minted ids: $rep")
      val left = idMap(t)
      assert(left.keySet == after.keySet -- insertKeys, s"[$mor] minted rows survived")
      left.foreach { case (k, v) => assert(v == after(k), s"[$mor] $k drifted") }
    }
    run(mor = false)
    run(mor = true)
  }

  test("guards: branch handles, reserved names, untracked reads") {
    val t = TsTable.create(tmpDir("rt-guards"), tokenMeta)
    t.append(TokenGen.generate(spark, 20, numFiles = 1))
    intercept[Exception] { t.scanWithRowIds(spark) } // not enabled

    t.createBranch("wip")
    intercept[IllegalStateException] { t.branch("wip").enableRowTracking() }
    t.dropBranch("wip")

    val clash = TsTable.create(tmpDir("rt-clash"), TableMeta("c",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    clash.append(TokenGen.generate(spark, 10, numFiles = 1)
      .withColumn("_row_id", lit(1L)))
    intercept[Exception] { clash.enableRowTracking() }
  }

  test("scanRowIdRange: exact manifest pruning over mixed positional/materialized eras") {
    val t = TsTable.create(tmpDir("rt-range"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    t.enableRowTracking()                                        // ids 0..99
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) // materialized era
    t.append(TokenGen.generate(spark, 50, idStart = 9000L, numFiles = 2)) // positional 100..149
    val all = idMap(t)

    // windows derive from the OBSERVED id space: the compaction output
    // consumed an (unused) base range, so the second append's ids start
    // past it — exactly the Delta discipline (ids skip, never collide)
    val allIds = all.values.map(_._1).toSeq.sorted
    def expect(lo: Long, hi: Long): Seq[Long] = allIds.filter(id => id >= lo && id <= hi)
    def ids(lo: Long, hi: Long): Seq[Long] =
      t.scanRowIdRange(spark, lo, hi).select("_row_id").collect().map(_.getLong(0)).toSeq.sorted
    val posLo = allIds.filter(_ > 99L).head // first positional-era id
    assert(ids(10, 20) == expect(10, 20) && expect(10, 20).nonEmpty)       // materialized era
    assert(ids(posLo + 5, posLo + 20) == expect(posLo + 5, posLo + 20)
      && expect(posLo + 5, posLo + 20).nonEmpty)                           // positional era
    assert(ids(95, posLo + 5) == expect(95, posLo + 5))                    // spanning (id gap)
    assert(ids(allIds.max + 100, allIds.max + 200).isEmpty)                // past high water
    // MOR-deleted ids disappear from their window
    val victim = all.minBy(_._2._1)._1
    graft.maintain.DeleteWhere.deleteMor(spark, t, col("doc_id") === victim)
    assert(!ids(0, 5).contains(all(victim)._1))
  }

  test("change feed carries row ids: synthesized inserts, recorded images, linked pairs") {
    val t = TsTable.create(tmpDir("rt-cdf"), tokenMeta)
    t.enableRowTracking()
    t.enableCdf()
    val v0 = t.version
    t.append(TokenGen.generate(spark, 120, numFiles = 2))
    val afterAppend = idMap(t)
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) // silent (DataNeutral)
    DeleteWhere.deleteMor(spark, t, col("n_tok") % 7 === 0)
    val deletedKeys = afterAppend.keySet -- idMap(t).keySet
    UpdateWhere.update(spark, t, col("n_tok") % 7 === 1,
      Map("n_tok" -> (col("n_tok") + lit(70000))))
    // MERGE: 5 revisions + 5 brand-new keys
    val updIds = (0L until 5L).map(i => f"doc-$i%012d") ++
      (8000L until 8005L).map(i => f"doc-$i%012d")
    MergeInto.merge(spark, t, TokenGen.generateForIds(spark, updIds, salt = "rev"))

    val feed = graft.maintain.ChangeFeed.read(spark, t, v0, t.version)
      .select("doc_id", "_change_type", "_row_id").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))

    // synthesized inserts (the append) carry the rows' REAL ids
    val ins = feed.filter(_._2 == "insert")
    val appendIns = ins.filter(r => afterAppend.contains(r._1) && !updIds.contains(r._1))
    assert(appendIns.nonEmpty)
    appendIns.foreach { case (k, _, id) => assert(id.contains(afterAppend(k)._1)) }
    // MERGE's writer-recorded inserts: ids minted at commit -> NULL record
    assert(ins.filter(r => r._1.startsWith("doc-00000000800")).forall(_._3.isEmpty))

    // delete records carry the deleted rows' ids
    val dels = feed.filter(_._2 == "delete")
    assert(dels.map(_._1).toSet == deletedKeys)
    dels.foreach { case (k, _, id) => assert(id.contains(afterAppend(k)._1)) }

    // update_pre/update_post (UPDATE + MERGE-matched) pair up BY id
    val pre = feed.filter(_._2 == "update_pre").map(r => r._3.get -> r._1).toMap
    val post = feed.filter(_._2 == "update_post").map(r => r._3.get -> r._1).toMap
    assert(pre.nonEmpty && pre.keySet == post.keySet)
    pre.foreach { case (id, k) => assert(post(id) == k) } // join-free linkage
  }

  test("streaming CDF of a tracked table: snapshot and tail batches carry _row_id") {
    import org.apache.spark.sql.streaming.Trigger
    val t = TsTable.create(tmpDir("rt-cdf-stream"), tokenMeta)
    t.append(TokenGen.generate(spark, 80, numFiles = 2))
    t.enableRowTracking()
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) // materialized snapshot
    t.enableCdf()
    val expect = idMap(t)
    val out = tmpDir("rt-cdf-out"); val ckpt = tmpDir("rt-cdf-ckpt")
    def drain() = {
      val q = t.readStream(spark, Map("readChangeFeed" -> "true")).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out)
    }
    // initial snapshot over a COMPACTED (materialized-id) table: the ids
    // must come from the materialized column, not position arithmetic
    val got1 = drain()
    assert(got1.columns.contains("_row_id"))
    val snap = got1.select("doc_id", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap == expect.map { case (k, v) => k -> v._1 })

    // tail batch: delete records carry the deleted rows' ids
    DeleteWhere.deleteMor(spark, t, col("n_tok") % 11 === 0)
    val got2 = drain()
    val delRows = got2.where(col("_change_type") === "delete")
      .select("doc_id", "_row_id").collect()
    assert(delRows.nonEmpty)
    delRows.foreach(r => assert(expect(r.getString(0))._1 == r.getLong(1)))
  }

  test("deleteByRowIds: positional arithmetic + materialized arm, idempotent, CDF-recorded") {
    import graft.maintain.RowIdOps
    val t = TsTable.create(tmpDir("rt-iddel"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    t.enableRowTracking()
    t.enableCdf()
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) // materialized 0..99
    t.append(TokenGen.generate(spark, 60, idStart = 9000L, numFiles = 2)) // positional
    val all = idMap(t)
    val inv = all.map { case (k, v) => v._1 -> k }
    val posIds = all.values.map(_._1).filter(_ > 99L).toSeq.sorted

    // pre-existing DV: a key-deleted row's id must not re-count
    val preVictim = inv(5L)
    DeleteWhere.deleteMor(spark, t, col("doc_id") === preVictim)

    val victims = Seq(3L, 7L, 50L) ++ posIds.take(3) ++ Seq(5L, 99999999L)
    import spark.implicits._
    val v0 = t.version
    val rep = RowIdOps.deleteByRowIds(spark, t, victims.toDF("_row_id"))
    assert(rep.rowsDeleted == 6, s"got $rep") // bogus + already-deleted excluded
    val after = idMap(t)
    assert(after.size == all.size - 7) // 6 here + the key-delete
    victims.take(6).foreach(id => assert(!after.values.exists(_._1 == id)))
    after.foreach { case (k, v) => assert(all(k) == v) } // survivors untouched

    // replay of the same id set is a no-op (already-masked positions)
    val rep2 = RowIdOps.deleteByRowIds(spark, t, victims.toDF("_row_id"))
    assert(rep2.rowsDeleted == 0)
    assert(idMap(t) == after)

    // the change record carries the deleted rows' ids
    val feed = graft.maintain.ChangeFeed.read(spark, t, v0, t.version)
      .where(col("_change_type") === "delete").select("_row_id").collect()
      .map(_.getLong(0)).toSet
    assert(feed == victims.take(6).toSet)

    // guards
    intercept[IllegalArgumentException] {
      RowIdOps.deleteByRowIds(spark,
        TsTable.create(tmpDir("rt-iddel-untracked"), tokenMeta), victims.toDF("_row_id"))
    }
  }

  test("upsertByRowIds: revise in place by identity, insert fresh, resurrect stale") {
    import graft.maintain.RowIdOps
    val t = TsTable.create(tmpDir("rt-idup"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    t.enableRowTracking()
    t.enableCdf()
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) // materialized era
    t.append(TokenGen.generate(spark, 40, idStart = 9000L, numFiles = 1)) // positional era
    val all = idMap(t)
    val inv = all.map { case (k, v) => v._1 -> k }
    val posId = all.values.map(_._1).filter(_ > 99L).min

    // delete one row so its id can be resurrected
    RowIdOps.deleteByRowIds(spark, t, { import spark.implicits._; Seq(7L).toDF("_row_id") })
    assert(!idMap(t).values.exists(_._1 == 7L))

    // images: revise id 3 (materialized era) and posId (positional era),
    // resurrect id 7, insert one fresh row (null id)
    val revDocs = Seq(inv(3L), inv(posId), inv(7L))
    val images0 = TokenGen.generateForIds(spark, revDocs, salt = "v2")
      .withColumn("_row_id",
        when(col("doc_id") === inv(3L), 3L)
          .when(col("doc_id") === inv(posId), posId)
          .otherwise(7L))
    val fresh = TokenGen.generateForIds(spark, Seq("doc-000000777777"), salt = "new")
      .withColumn("_row_id", lit(null).cast("long"))
    val v0 = t.version
    val rep = RowIdOps.upsertByRowIds(spark, t, images0.unionByName(fresh))
    assert(rep.updated == 2, s"got $rep")  // id 7 was not live -> resurrect, not match
    assert(rep.inserted == 2)              // resurrection + the fresh row

    val after = idMap(t)
    assert(after.size == all.size + 1) // -1 delete +1 resurrect +1 fresh
    // identity survived the in-place revisions; content actually changed
    assert(after(inv(3L))._1 == 3L && after(inv(3L))._2 == t.version)
    assert(after(inv(posId))._1 == posId && after(inv(posId))._2 == t.version)
    assert(after(inv(7L))._1 == 7L)
    assert(after.contains("doc-000000777777"))
    val freshId = after("doc-000000777777")._1
    assert(freshId > all.values.map(_._1).max) // minted past the high water
    // untouched rows drifted nowhere
    (after.keySet - inv(3L) - inv(posId) - inv(7L) - "doc-000000777777")
      .foreach(k => assert(after(k) == all(k)))
    // ids stay globally unique
    assert(after.values.map(_._1).toSeq.distinct.size == after.size)

    // the feed recorded the upsert: pre for the two live revisions (by
    // id), post for all three images, insert for the fresh row
    val feed = graft.maintain.ChangeFeed.read(spark, t, v0, t.version)
    assert(feed.where(col("_change_type") === "update_pre").select("_row_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, posId))
    assert(feed.where(col("_change_type") === "update_post").count() == 3)
    assert(feed.where(col("_change_type") === "insert").count() == 1)
  }

  test("branch writes under row tracking publish with their ids intact") {
    val t = TsTable.create(tmpDir("rt-branch"), tokenMeta)
    t.append(TokenGen.generate(spark, 60, numFiles = 1))
    t.enableRowTracking()
    val before = idMap(t)

    t.createBranch("wap")
    val b = t.branch("wap")
    b.append(TokenGen.generate(spark, 40, idStart = 7000L, numFiles = 1))
    // main unchanged until publish (fast-forward guarantees no main
    // allocation can race the branch's id range)
    assert(idMap(t) == before)
    t.publishBranch("wap")
    val after = idMap(t)
    assert(after.size == 100)
    before.foreach { case (k, v) => assert(after(k) == v) }
    assert(after.values.map(_._1).toSeq.distinct.size == 100)
    assert(t.meta.rowIdHighWater == 100L)
  }
}
