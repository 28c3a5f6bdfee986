package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto}
import graft.meta.{ClusterSpec, TableKind, TableMeta, TimeBucket, TimeIndexSpec}
import graft.table.{DeletionVectors, DvDeleted, TsTable}

/** Merge-on-read deletion vectors: scan semantics, union of successive
  * DVs, time travel, interplay with compaction / MERGE / COW delete /
  * coverage / streaming / expire. */
class DvSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def pricesMeta = TableMeta("prices",
    TableKind.TimeSeries(TimeIndexSpec("ts", Seq.empty, TimeBucket.parse("1m"), None)),
    None, None)

  private def docIds(df: DataFrame): Set[String] =
    df.select("doc_id").collect().map(_.getString(0)).toSet

  test("MOR delete matches COW delete row-for-row; physical bytes untouched") {
    val rootMor = tmpDir("dv-mor"); val rootCow = tmpDir("dv-cow")
    val df = TokenGen.generate(spark, 600, numFiles = 4)
    val tMor = TsTable.create(rootMor, tokenMeta); tMor.append(df)
    val tCow = TsTable.create(rootCow, tokenMeta); tCow.append(df)
    val cond = col("source") === "src00"

    val filesBefore = tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet
    val rm = DeleteWhere.deleteMor(spark, tMor, cond)
    val rc = DeleteWhere.delete(spark, tCow, cond)

    assert(rm.rowsDeleted == rc.rowsDeleted && rm.rowsDeleted > 0)
    assert(rm.filesOut == 0, "MOR must not rewrite data files")
    assert(rm.dvAttached > 0)
    assert(docIds(tMor.scan(spark)) == docIds(tCow.scan(spark)))
    assert(tMor.scan(spark).count() == rm.survivors)
    // data files byte-identical (same paths, same sizes)
    assert(tMor.state.liveSegments.map(s => (s.path, s.fileSize)).toSet == filesBefore)
    // manifest accounting: physical rowCount unchanged, live shrinks
    val segs = tMor.state.liveSegments
    assert(segs.map(_.rowCount).sum == 600L)
    assert(segs.map(_.liveRowCount).sum == 600L - rm.rowsDeleted)
    assert(segs.filter(_.dvPath.isDefined).forall(_.dvCardinality > 0))
    // history labels the commit
    assert(tMor.history(spark).collect().head.getString(2) == "DELETE (DV)")
  }

  test("successive MOR deletes union into one DV per file; time travel sees through") {
    val root = tmpDir("dv-union")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 500, numFiles = 3))
    val v0 = t.version
    val all = docIds(t.scan(spark))

    val r1 = DeleteWhere.deleteMor(spark, t, col("n_tok") < 200)
    val v1 = t.version
    val r2 = DeleteWhere.deleteMor(spark, t, col("n_tok") >= 1800)
    assert(r1.rowsDeleted > 0 && r2.rowsDeleted > 0)

    val now = t.scan(spark)
    assert(now.where(col("n_tok") < 200 || col("n_tok") >= 1800).count() == 0)
    assert(now.count() == 500L - r1.rowsDeleted - r2.rowsDeleted)
    // per-file DV is the union: cardinalities add up (disjoint predicates)
    assert(t.state.liveSegments.map(_.dvCardinality).sum == r1.rowsDeleted + r2.rowsDeleted)
    // time travel: pre-delete and between-deletes snapshots still exact
    assert(docIds(t.scanAt(spark, v0)) == all)
    assert(t.scanAt(spark, v1).count() == 500L - r1.rowsDeleted)
    assert(t.scanAt(spark, v1).where(col("n_tok") < 200).count() == 0)
  }

  test("a file whose every live row matches is dropped metadata-only") {
    val root = tmpDir("dv-full")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 2))
    val nFiles = t.state.liveSegments.size
    // two-step: DV-delete half, then MOR-delete the rest -> pure removes
    val r1 = DeleteWhere.deleteMor(spark, t, col("n_tok") % 2 === 0)
    val r2 = DeleteWhere.deleteMor(spark, t, lit(true))
    assert(r1.dvAttached > 0)
    assert(r2.dvAttached == 0 && r2.filesDroppedMetaOnly == nFiles,
      s"expected $nFiles metadata-only drops, got $r2")
    assert(t.scan(spark).count() == 0)
  }

  test("compaction materializes DVs: fresh segments, no dvPath, same rows") {
    val root = tmpDir("dv-compact")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 500, numFiles = 4))
    val r = DeleteWhere.deleteMor(spark, t, col("source") === "src01")
    assert(r.dvAttached > 0)
    val want = docIds(t.scan(spark))

    val rep = Compaction.run(spark, t, targetFileSize = 256L * 1024 * 1024)
    assert(rep.binsExecuted >= 1)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty), "compaction must clear DVs")
    assert(docIds(t.scan(spark)) == want)
    assert(t.scan(spark).where(col("source") === "src01").count() == 0)
    // the DSv1 batch read path works again post-materialization
    assert(spark.read.format("graft-table").load(root).count() == want.size.toLong)
  }

  test("a lone over-target file still compacts when it carries a DV") {
    val root = tmpDir("dv-lone")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 1))
    assert(t.state.liveSegments.size == 1)
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 500)
    // one file, no sibling to bin with: only the DV makes it a candidate
    val rep = Compaction.run(spark, t, targetFileSize = 256L * 1024 * 1024)
    assert(rep.binsExecuted >= 1, "singleton DV bin must execute")
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty))
    assert(t.scan(spark).where(col("n_tok") < 500).count() == 0)
  }

  test("MERGE INTO on a DV'd table: deleted rows stay deleted unless re-upserted") {
    import spark.implicits._
    val root = tmpDir("dv-merge")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 3))
    val victims = t.scan(spark).select("doc_id").orderBy("doc_id")
      .limit(40).collect().map(_.getString(0)).toSeq
    DeleteWhere.deleteMor(spark, t, col("doc_id").isin(victims: _*))
    assert(t.scan(spark).where(col("doc_id").isin(victims: _*)).count() == 0)

    // upsert revisions for 10 of the deleted ids + 10 live ids
    val revived = victims.take(10)
    val updates = TokenGen.generateForIds(spark, revived ++ Seq.tabulate(10)(i => f"doc-${i + 200}%012d"))
      .withColumn("source", lit("revised"))
    MergeInto.merge(spark, t, updates, key = "doc_id", targetFileSize = 256L * 1024 * 1024)

    val after = t.scan(spark)
    assert(after.where(col("doc_id").isin(revived: _*)).count() == revived.size.toLong,
      "re-upserted ids must exist exactly once")
    assert(after.where(col("doc_id").isin(victims.drop(10): _*)).count() == 0,
      "non-upserted deleted ids must stay deleted")
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty), "merge rewrite materializes DVs")
  }

  test("COW delete on a DV'd table never resurrects DV'd rows") {
    val root = tmpDir("dv-then-cow")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 3))
    val rm = DeleteWhere.deleteMor(spark, t, col("n_tok") < 300)
    val rc = DeleteWhere.delete(spark, t, col("n_tok") >= 1700)
    assert(rm.rowsDeleted > 0 && rc.rowsDeleted > 0)
    val s = t.scan(spark)
    assert(s.where(col("n_tok") < 300 || col("n_tok") >= 1700).count() == 0)
    assert(s.count() == 400L - rm.rowsDeleted - rc.rowsDeleted)
  }

  test("time-series: MOR delete vacates coverage so the range accepts a fresh append") {
    import spark.implicits._
    val root = tmpDir("dv-prices")
    val t = TsTable.create(root, pricesMeta)
    def rows(s: Long, e: Long) = (s until e).map(i => (i * 60L, i.toDouble))
      .toDF("epoch_s", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("price"))
    t.append(rows(0, 60)) // buckets 0..59
    // overlapping append rejected while covered
    intercept[graft.table.CoverageOverlapException] { t.append(rows(10, 20)) }
    val r = DeleteWhere.deleteMor(spark, t,
      col("ts") >= lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(10 * 60))) &&
        col("ts") < lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(20 * 60))))
    assert(r.rowsDeleted == 10)
    val cov = t.loadTableCoverage()
    assert(!(10 until 20).exists(cov.contains), s"buckets 10..19 must be vacated: $cov")
    assert((0 until 10).forall(cov.contains) && (20 until 60).forall(cov.contains))
    // the vacated range now accepts an append; scan sees the new rows
    t.append(rows(10, 20))
    assert(t.scan(spark).count() == 60)
  }

  test("streaming: a DV attach is a change commit — skipped, never re-emitted") {
    val root = tmpDir("dv-stream-tbl")
    val out = tmpDir("dv-stream-out"); val ckpt = tmpDir("dv-stream-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 500) // snapshot must be DV-filtered

    def drain(): DataFrame = {
      val q = t.readStream(spark, Map("skipChangeCommits" -> "true"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out)
    }
    val got1 = drain()
    assert(docIds(got1) == docIds(t.scan(spark)), "initial snapshot must apply DVs")

    // a later DV attach + a fresh append: only the append reaches the sink
    DeleteWhere.deleteMor(spark, t, col("n_tok") >= 1900)
    t.append(TokenGen.generate(spark, 50, idStart = 5000))
    val got2 = drain()
    assert(got2.count() == got1.count() + 50,
      "DV attach must be skipped; only the append emits")
  }

  test("expire: referenced DVs survive; materialized-away DVs are reclaimed") {
    val root = tmpDir("dv-expire")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 2))
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 400)
    val dvDir = java.nio.file.Paths.get(s"$root/_dv")
    def dvFiles(): Seq[String] = {
      if (!java.nio.file.Files.isDirectory(dvDir)) return Nil
      val s = java.nio.file.Files.list(dvDir)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSeq }
      finally s.close()
    }
    assert(dvFiles().nonEmpty)
    val want = docIds(t.scan(spark))

    // expire to current WITH the DV live: the sidecar must survive
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    assert(dvFiles().nonEmpty, "live DV must survive expire")
    assert(docIds(t.scan(spark)) == want)

    // compact (materialize), then expire: the orphaned DV must be swept
    Compaction.run(spark, t, targetFileSize = 256L * 1024 * 1024)
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    assert(dvFiles().isEmpty, "materialized-away DV must be reclaimed")
    assert(docIds(t.scan(spark)) == want)
  }

  test("DSv1 batch read refuses a DV'd snapshot with a clear error") {
    val root = tmpDir("dv-dsv1")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100))
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 500)
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft-table").load(root).count()
    }
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("one relation holds a DV'd and a clean file; a NULL dv_path keeps every row") {
    val root = tmpDir("dv-mixed")
    val t = TsTable.create(root, tokenMeta)
    // two disjoint-range appends so the MOR delete grazes only the first
    t.append(TokenGen.generate(spark, 400, numFiles = 1))
    t.append(TokenGen.generate(spark, 400, idStart = 90000L, numFiles = 1))
    val cond = col("doc_id") < "doc-000000000100"
    DeleteWhere.deleteMor(spark, t, cond)
    val segs = t.state.liveSegments
    assert(segs.count(_.dvPath.isDefined) == 1 && segs.count(_.dvPath.isEmpty) == 1)
    // plain-Parquet oracle: the data files as written, less the deleted rows
    val oracle = spark.read.parquet(segs.map(s => s"$root/${s.path}"): _*).where(!cond)
    for (wholeStage <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        assert(t.scan(spark).count() == oracle.count(), s"wholeStage=$wholeStage")
        assert(docIds(t.scan(spark)) == docIds(oracle), s"wholeStage=$wholeStage")
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    // each file's facts arrive as its _metadata constants: the DV'd file's
    // sidecar, NULL for the clean one and for the untracked base row id
    val facts = t.scan(spark).select("_metadata.file_path", "_metadata.dv_path",
      "_metadata.base_row_id").distinct().collect()
    assert(facts.length == 2 && facts.forall(_.isNullAt(2)))
    assert(facts.map(r => Option(r.getString(1)).map(_.split('/').last)).toSet ==
      segs.map(_.dvPath.map(_.split('/').last)).toSet)
    // the mask on a clean file: false, never NULL, interpreted and codegen'd
    val clean = DvDeleted(Literal(null, StringType), Literal(0L))
    assert(!clean.nullable && clean.eval() == false)
    val masked = spark.range(3).select(
      DeletionVectors.deleted(lit(null).cast(StringType), col("id")).as("d"))
    assert(masked.collect().map(_.get(0)).toSeq == Seq(false, false, false))
  }
}
