package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, MergeInto, UpdateWhere}
import graft.meta._
import graft.table.TsTable

/** RENAME COLUMN via column mapping: physical names frozen in the files,
  * one metadata commit, logical view restored by an alias projection that
  * filters/pruning push through. Every maintenance verb must keep working
  * over the mapped table, and never-renamed tables take the identity
  * fast path (covered by every other suite). */
class RenameColumnSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def checksum(t: TsTable): Long = t.scan(spark)
    .agg(expr("bit_xor(xxhash64(doc_id, tokens))")).first.getLong(0)

  test("rename: metadata-only; values intact; old files keep physical bytes; time travel") {
    val t = TsTable.create(tmpDir("ren"), tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 3))
    val sum0 = checksum(t)
    val pre = t.version

    val v = t.renameColumn("tokens", "token_ids")
    assert(v > pre && t.version == v)
    // logical view: new name, same data
    assert(t.scan(spark).schema.fieldNames.toSeq ==
      Seq("doc_id", "token_ids", "n_tok", "source"))
    assert(t.scan(spark)
      .agg(expr("bit_xor(xxhash64(doc_id, token_ids))")).first.getLong(0) == sum0)
    // files untouched: footer still carries the frozen physical name
    val footer = spark.read.parquet(
      s"${t.root}/${t.state.liveSegments.head.path}").schema.fieldNames
    assert(footer.contains("tokens") && !footer.contains("token_ids"))
    // time travel: the pre-rename snapshot scans under the old name
    assert(t.scanAt(spark, pre).schema.fieldNames.contains("tokens"))
  }

  test("rename guards: identity/cluster/check columns, collisions, chained renames") {
    val t = TsTable.create(tmpDir("ren-guards"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))

    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
    intercept[IllegalArgumentException] { t.renameColumn("tokens", "n_tok") } // taken
    intercept[IllegalArgumentException] { t.renameColumn("doc_id", "id") }    // cluster col
    intercept[IllegalArgumentException] { t.renameColumn("n_tok", "len") }    // cluster col
    t.addCheck(spark, "tok_arr", "size(tokens) > 0")
    intercept[IllegalStateException] { t.renameColumn("tokens", "tok_a") }    // check refs it
    t.dropCheck("tok_arr")

    // chained rename freezes the ORIGINAL physical name
    t.renameColumn("tokens", "tok_a")
    t.renameColumn("tok_a", "tok_b")
    assert(t.meta.colMap == Map("tok_b" -> "tokens"))
    // the frozen physical name blocks a colliding ADD COLUMN and a
    // colliding rename target
    intercept[IllegalArgumentException] { t.addColumn("tokens", IntegerType) }
    intercept[IllegalArgumentException] { t.renameColumn("n_tok", "tokens") }
    // renaming back to the physical name clears the mapping entirely
    t.renameColumn("tok_b", "tokens")
    assert(t.meta.colMap.isEmpty)

    // drop of a renamed column clears its mapping entry
    t.addColumn("quality", IntegerType)
    t.append(TokenGen.generate(spark, 10, idStart = 5000L).withColumn("quality", lit(1)))
    t.renameColumn("quality", "q_score")
    assert(t.meta.colMap == Map("q_score" -> "quality"))
    t.dropColumn("q_score")
    assert(t.meta.colMap.isEmpty)
    assert(!t.scan(spark).schema.fieldNames.contains("q_score"))
  }

  test("post-rename appends, filters, checks, and every maintenance verb") {
    val t = TsTable.create(tmpDir("ren-maint"), tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 4))
    t.renameColumn("tokens", "token_ids")

    // post-rename append arrives under LOGICAL names and lands physical
    t.append(TokenGen.generate(spark, 100, idStart = 9000L)
      .withColumnRenamed("tokens", "token_ids"))
    assert(t.scan(spark).count() == 500)
    // a stale old-name append is rejected (exact-match schema discipline)
    intercept[Exception] { t.append(TokenGen.generate(spark, 10, idStart = 99000L)) }

    // filters on the renamed column push through the alias projection
    val wide = t.scan(spark).where(size(col("token_ids")) > 1000).count()
    assert(wide > 0 && wide < 500)

    // a CHECK referencing the NEW name gates appends (stats fast path +
    // row scan both remap to the physical staged files)
    t.addCheck(spark, "tok_arr", "size(token_ids) = n_tok")
    t.append(TokenGen.generate(spark, 20, idStart = 20000L)
      .withColumnRenamed("tokens", "token_ids"))
    intercept[graft.table.CheckViolationException] {
      t.append(TokenGen.generate(spark, 5, idStart = 30000L)
        .withColumnRenamed("tokens", "token_ids")
        .withColumn("n_tok", lit(-1)))
    }
    assert(t.scan(spark).count() == 520)
    t.dropCheck("tok_arr")

    val sum0 = t.scan(spark)
      .agg(expr("bit_xor(xxhash64(doc_id, token_ids))")).first.getLong(0)

    // compaction: physical end-to-end, byte-identical through the rewrite
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    assert(t.scan(spark).count() == 520)
    assert(t.scan(spark)
      .agg(expr("bit_xor(xxhash64(doc_id, token_ids))")).first.getLong(0) == sum0)

    // DELETE WHERE on the renamed column (CoW)
    val del = DeleteWhere.delete(spark, t, size(col("token_ids")) > 1900)
    assert(del.rowsDeleted > 0)
    assert(t.scan(spark).where(size(col("token_ids")) > 1900).count() == 0)

    // DELETE WHERE merge-on-read on the renamed column (DV path)
    val mor = DeleteWhere.deleteMor(spark, t, size(col("token_ids")) > 1800)
    assert(mor.rowsDeleted > 0)
    assert(t.scan(spark).where(size(col("token_ids")) > 1800).count() == 0)

    // UPDATE WHERE SET over the renamed column (slice keeps arrays valid)
    val upd = UpdateWhere.update(spark, t,
      col("n_tok") > 1000, Map("token_ids" -> expr("slice(token_ids, 1, 8)")))
    assert(upd.rowsUpdated > 0)
    assert(t.scan(spark).where(col("n_tok") > 1000)
      .where(size(col("token_ids")) =!= 8).count() == 0)

    // MERGE on doc_id with renamed payload column present in the updates
    val before = t.scan(spark).count()
    val someIds = t.scan(spark).select("doc_id").limit(3)
      .collect().map(_.getString(0))
    val updates = t.scan(spark).where(col("doc_id").isin(someIds.toIndexedSeq: _*))
      .withColumn("token_ids", expr("slice(token_ids, 1, 2)"))
      .unionByName(t.scan(spark).limit(1)
        .withColumn("doc_id", lit("doc-fresh-000001"))
        .withColumn("token_ids", expr("array(1, 2, 3)")))
    val rep = MergeInto.merge(spark, t, updates)
    assert(rep.updated == 3 && rep.inserted == 1)
    assert(t.scan(spark).count() == before + 1)
    assert(t.scan(spark).where(col("doc_id") === "doc-fresh-000001").count() == 1)
    assert(t.scan(spark).where(col("doc_id").isin(someIds.toIndexedSeq: _*))
      .where(size(col("token_ids")) =!= 2).count() == 0)
  }

  test("rename on a MERGE KEY: candidate pruning still selects by physical stats") {
    val root = tmpDir("ren-key")
    val t = TsTable.create(root, TableMeta("docs",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_chars", "doc_id"), "zorder")),
      None, None))
    // extra_key is NOT a cluster column, so it is renamable — and it has
    // footer stats, so the merge's range pruning applies to it
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      concat(lit("k"), format_string("%06d", col("id"))).as("doc_id"),
      (col("id") % 97 + 10).cast("long").as("n_chars"),
      col("id").as("extra_key"),
      concat(lit("s"), pmod(col("id"), lit(5))).as("source"))
    t.append(docs(0, 1000).coalesce(1))
    t.append(docs(1000, 2000).coalesce(1))
    t.append(docs(2000, 3000).coalesce(1))
    t.renameColumn("extra_key", "len_chars")
    // files() metadata table keys stats by the LOGICAL name (the renamed
    // key has numeric footer stats, unlike an array column)
    val statCols = t.files(spark).select(explode(map_keys(col("stats"))))
      .distinct().collect().map(_.getString(0)).toSet
    assert(statCols.contains("len_chars") && !statCols.contains("extra_key"))
    // merge keyed on the RENAMED column, hitting ONLY the middle file's
    // [1000,2000) range: stats prune by the PHYSICAL key name
    val upd = spark.range(0, 50).select(
      concat(lit("K"), format_string("%06d", col("id"))).as("doc_id"),
      lit(4242L).as("n_chars"),
      (col("id") + 1500L).as("len_chars"),
      lit("sX").as("source"))
    val rep = MergeInto.merge(spark, t, upd, key = "len_chars")
    assert(rep.candidates == 1, s"stats pruning on the renamed key selected ${rep.candidates} files")
    assert(rep.updated == 50 && rep.inserted == 0)
    assert(t.scan(spark).count() == 3000)
    assert(t.scan(spark).where(col("n_chars") === 4242).count() == 50)
    // and an out-of-range key set prunes EVERY file -> pure insert
    val ins = spark.range(0, 3).select(
      concat(lit("F"), col("id").cast("string")).as("doc_id"),
      lit(7L).as("n_chars"), (col("id") + 100000L).as("len_chars"),
      lit("sY").as("source"))
    val rep2 = MergeInto.merge(spark, t, ins, key = "len_chars")
    assert(rep2.candidates == 0 && rep2.inserted == 3)
    assert(t.scan(spark).count() == 3003)

    // CoW DELETE on the renamed key: the predicate is pruned as the scan
    // sees it, on the physical column, so only the [2000, 3000) file is read
    val cond = col("len_chars") >= 2500 && col("len_chars") < 2600
    val expected = t.scan(spark).where(!cond).collect().map(_.toString).sorted.toSeq
    val liveBefore = t.state.liveSegments.size
    val del = DeleteWhere.delete(spark, t, cond)
    assert(del.candidates == 1 && liveBefore > 1, s"${del.candidates} of $liveBefore files were candidates")
    assert(del.rowsDeleted == 100)
    assert(t.scan(spark).collect().map(_.toString).sorted.toSeq == expected)
  }

  test("streaming source and DSv1 relation over a renamed table") {
    val root = tmpDir("ren-stream")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 50, numFiles = 1))
    t.renameColumn("tokens", "token_ids")
    t.append(TokenGen.generate(spark, 30, idStart = 7000L)
      .withColumnRenamed("tokens", "token_ids"))

    // DSv1 batch read refuses loudly (no projection hook on a bare relation)
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft-table").load(root).count()
    }
    assert(e.getMessage.contains("renamed"))

    // the streaming source delivers the LOGICAL schema with real values
    val out = tmpDir("ren-stream-out")
    val q = spark.readStream.format("graft-table").load(root)
      .writeStream.format("parquet")
      .option("checkpointLocation", tmpDir("ren-stream-ck"))
      .option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.schema.fieldNames.toSeq ==
      Seq("doc_id", "token_ids", "n_tok", "source"))
    assert(got.count() == 80)
    assert(got.where(col("token_ids").isNull).count() == 0)
  }
}
