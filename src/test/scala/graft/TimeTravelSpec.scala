package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.data.TokenGen
import graft.log.{Commit, VersionExpiredException}
import graft.maintain.{ChangeFeed, Compaction, Expire, Restore, SnapshotDiff}
import graft.meta._
import graft.table.TsTable

/** AS OF TIMESTAMP time travel: versionAsOf / scanAsOf resolve a wall
  * clock instant to the last commit at or before it. */
class TimeTravelSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def commitTs(t: TsTable, v: Long): Long =
    t.store.readCommit(v).timestampMillis

  /** Next append lands on a strictly later millisecond than `ts`. */
  private def tickPast(ts: Long): Unit =
    while (System.currentTimeMillis() <= ts) Thread.sleep(1)

  test("versionAsOf: boundary semantics across three appends") {
    val t = TsTable.create(tmpDir("asof"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    val v1 = t.version; val ts1 = commitTs(t, v1)
    tickPast(ts1)
    t.append(TokenGen.generate(spark, 50, idStart = 1000L, numFiles = 1))
    val v2 = t.version; val ts2 = commitTs(t, v2)
    tickPast(ts2)
    t.append(TokenGen.generate(spark, 25, idStart = 2000L, numFiles = 1))
    val v3 = t.version; val ts3 = commitTs(t, v3)

    // exact stamp → that version; between stamps → the earlier one;
    // far future → latest; before the first commit → error
    assert(t.versionAsOf(ts1) == v1)
    assert(t.versionAsOf(ts2 - 1) == v1)
    assert(t.versionAsOf(ts2) == v2)
    assert(t.versionAsOf(ts3) == v3)
    assert(t.versionAsOf(ts3 + 3600_000L) == v3)
    val e = intercept[IllegalArgumentException] {
      t.versionAsOf(commitTs(t, 1L) - 1)
    }
    assert(e.getMessage.contains("earliest retained commit"))

    assert(t.scanAsOf(spark, ts1).count() == 100)
    assert(t.scanAsOf(spark, ts2).count() == 150)
    assert(t.scanAsOf(spark, System.currentTimeMillis()).count() == 175)
  }

  test("clock-skew tolerance: a non-monotone stamp never shadows a later commit") {
    val t = TsTable.create(tmpDir("asof-skew"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    val v1 = t.version; val ts1 = commitTs(t, v1)
    tickPast(ts1 + 2)
    t.append(TokenGen.generate(spark, 50, idStart = 1000L, numFiles = 1))
    val v2 = t.version
    // simulate a cross-process writer whose clock ran BEHIND: rewrite v2's
    // recorded stamp to ts1 - 5 (earlier than its predecessor's)
    val p = t.store.commitPath(v2)
    val skewed = Files.readString(p)
      .replace(s""""timestamp":${commitTs(t, v2)}""", s""""timestamp":${ts1 - 5}""")
    Files.writeString(p, skewed, StandardOpenOption.TRUNCATE_EXISTING)
    assert(commitTs(t, v2) == ts1 - 5)

    // the max-qualifying-version rule: at ts1 both commits qualify
    // (v2's skewed stamp is ≤ ts1) and the LATER version wins — a reader
    // at ts1 must never see v2's rows vanish behind v1
    assert(t.versionAsOf(ts1) == v2)
    // before every stamp (create's AND the skewed one) → error, not v1
    val minTs = math.min(commitTs(t, 1L), ts1 - 5)
    val e = intercept[IllegalArgumentException] { t.versionAsOf(minTs - 1) }
    assert(e.getMessage.contains("earliest retained commit"))
  }

  test("expired history: as-of before the retained window errors; inside it resolves") {
    val t = TsTable.create(tmpDir("asof-exp"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    val tsOld = commitTs(t, t.version)
    tickPast(tsOld)
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    t.append(TokenGen.generate(spark, 50, idStart = 9000L, numFiles = 1))
    val keepFrom = t.version
    val tsNew = commitTs(t, keepFrom)
    Expire.expire(t, keepFrom, stagingGraceMs = 0L)

    // the pre-expire instant's commits were reclaimed
    intercept[IllegalArgumentException] { t.versionAsOf(tsOld) }
    // the retained window still resolves (and scans)
    assert(t.versionAsOf(tsNew) == keepFrom)
    assert(t.scanAsOf(spark, System.currentTimeMillis()).count() == 250)
  }

  test("every pin and commit walk fails the same typed way on expired or out-of-range versions") {
    val root = tmpDir("tt-expired")
    val t = TsTable.create(root, tokenMeta)                                  // v1
    t.append(TokenGen.generate(spark, 100, numFiles = 2))                     // v2
    t.append(TokenGen.generate(spark, 50, idStart = 1000L, numFiles = 1))     // v3
    t.setTag("old", Some(2L))                                                // v4
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)               // v5
    t.append(TokenGen.generate(spark, 25, idStart = 2000L, numFiles = 1))     // v6
    val cur = t.version
    Expire.expire(t, cur, stagingGraceMs = 0L)
    // the tag kept v2 readable through its checkpoint; losing that
    // checkpoint leaves the tag pointing into reclaimed history
    assert(t.scanAtTag(spark, "old").count() == 100)
    Files.delete(t.store.checkpointPath(2L))

    val e = intercept[VersionExpiredException](t.scanAt(spark, 2L))
    assert((e.version, e.missing, e.earliest) == (2L, 1L, cur))
    Seq("reclaimed", "expired by snapshot retention", "missing commit", "earliest retained commit")
      .foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    def causes(x: Throwable): Seq[Throwable] = Option(x).toSeq.flatMap(c => c +: causes(c.getCause))
    val entryPoints: Seq[(String, () => Any)] = Seq(
      "scanAt" -> (() => t.scanAt(spark, 3L)),
      "scanAtTag" -> (() => t.scanAtTag(spark, "old")),
      "setTag" -> (() => t.setTag("late", Some(3L))),
      "createBranch" -> (() => t.createBranch("late", Some(3L))),
      "cloneTo" -> (() => t.cloneTo(tmpDir("tt-expired-clone") + "/c", Some(3L))),
      "Restore.restore" -> (() => Restore.restore(t, 3L)),
      "SnapshotDiff.diff" -> (() => SnapshotDiff.diff(spark, t, 2L, cur, "doc_id")),
      "ChangeFeed.read" -> (() => ChangeFeed.read(spark, t, 2L, cur)),
      "DSv1 versionAsOf" -> (() =>
        spark.read.format("graft-table").option("versionAsOf", 3L).load(root)),
      "stream tail" -> (() =>
        spark.readStream.format("graft-table").option("startingVersion", 3L).load(root)
          .writeStream.format("parquet").option("path", tmpDir("tt-expired-out"))
          .option("checkpointLocation", tmpDir("tt-expired-ckpt"))
          .trigger(Trigger.AvailableNow()).start().awaitTermination()))
    entryPoints.foreach { case (name, call) =>
      val thrown = intercept[Exception](call())
      assert(causes(thrown).exists(_.isInstanceOf[VersionExpiredException]),
        s"$name: ${causes(thrown).map(_.toString)}")
      if (name != "stream tail") assert(thrown.isInstanceOf[VersionExpiredException], name)
      else assert(thrown.isInstanceOf[StreamingQueryException], name)
    }
    // a tag into reclaimed history blocks expire, which names it
    val blocked = intercept[IllegalStateException](Expire.expire(t, cur))
    assert(blocked.getMessage.contains("'old'") &&
      blocked.getCause.isInstanceOf[VersionExpiredException])
    assert(t.version == cur && t.scan(spark).count() == 175)

    // out of range: neither below 0 nor above CURRENT, even when a crashed
    // writer left an orphan commit file there
    def outOfRange(v: Long): Unit = {
      val r = intercept[IllegalArgumentException](t.scanAt(spark, v))
      assert(!r.isInstanceOf[VersionExpiredException] && r.getMessage.contains("out of range"))
    }
    outOfRange(-1L)
    outOfRange(cur + 1)
    val orphan = t.store.commitPath(cur + 1)
    Files.writeString(orphan, graft.meta.Json.write(Commit(cur + 1, cur, 0L, Nil).toJson))
    outOfRange(cur + 1)
    intercept[IllegalArgumentException](t.store.commits(cur, cur + 1))
    Files.delete(orphan)
  }
}
