package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Analyze, Compaction, DeleteWhere}
import graft.meta._
import graft.table.TsTable

/** ANALYZE: manifest-only health report — small-file debt, DV debt,
  * per-column overlap — and its maintenance recommendation. */
class AnalyzeSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  test("small-file debt found before compaction, cleared after") {
    val t = TsTable.create(tmpDir("an-small"), tokenMeta)
    t.append(TokenGen.generate(spark, 600, numFiles = 16))
    val before = Analyze.analyze(t, targetFileSize = 8L * 1024 * 1024)
    assert(before.files == 16 && before.smallFiles == 16)
    assert(before.recommendCompaction && before.reasons.exists(_.contains("below 90%")))
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    val after = Analyze.analyze(t, targetFileSize = 64L * 1024)
    assert(after.files < 16 && !after.recommendCompaction,
      s"post-compaction report should be clean: $after")
    assert(after.physicalRows == 600 && after.liveRows == 600)
  }

  test("DV debt counted after a MOR delete, cleared by materializing compaction") {
    val t = TsTable.create(tmpDir("an-dv"), tokenMeta)
    t.append(TokenGen.generate(spark, 500, numFiles = 2))
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 900)
    val r = Analyze.analyze(t, targetFileSize = 64L * 1024)
    assert(r.dvFiles > 0 && r.dvDebtRows > 0)
    assert(r.liveRows == r.physicalRows - r.dvDebtRows)
    assert(r.recommendCompaction && r.reasons.exists(_.contains("DV debt")))
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    val clean = Analyze.analyze(t, targetFileSize = 64L * 1024)
    assert(clean.dvFiles == 0 && clean.dvDebtRows == 0)
  }

  test("compaction DV-debt threshold: light debt keeps its DV, heavy debt materializes") {
    def seg(id: String, rows: Long, dv: Long, size: Long): SegmentMeta =
      SegmentMeta(id, s"data/$id.parquet", "parquet", rows, Some(size), Map.empty,
        None, if (dv > 0) Some(s"_dv/$id.dv") else None, dv)
    val target = 8L * 1024 * 1024
    val big = (target * 4) // well above the small-file threshold
    // 1% masked big file: not a candidate at the default 5% threshold
    assert(Compaction.plan(Seq(seg("a", 1000, 10, big)), target).isEmpty)
    // 10% masked: candidate even as a singleton (materialization pass)
    assert(Compaction.plan(Seq(seg("b", 1000, 100, big)), target).nonEmpty)
    // threshold 0.0 forces full materialization of any DV
    assert(Compaction.plan(Seq(seg("a", 1000, 10, big)), target,
      dvDebtThreshold = 0.0).nonEmpty)
    // a clean big file is never a candidate
    assert(Compaction.plan(Seq(seg("c", 1000, 0, big)), target).isEmpty)
  }

  test("overlap: disjoint-range appends score ~0 on doc_id; interleaved z-order spans") {
    val t = TsTable.create(tmpDir("an-ovl"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 1))
    t.append(TokenGen.generate(spark, 200, idStart = 10000L, numFiles = 1))
    t.append(TokenGen.generate(spark, 200, idStart = 20000L, numFiles = 1))
    val r = Analyze.analyze(t)
    val doc = r.clustering.find(_.column == "doc_id").get
    assert(doc.filesWithStats == 3 && doc.avgOverlap == 0.0 && doc.maxOverlap == 0)

    // z-order interleaving makes every file span the doc_id keyspace:
    // after clustering INTO MULTIPLE FILES, doc_id ranges overlap heavily
    // while the LEADING curve column (source) keeps pruning power
    val t2 = TsTable.create(tmpDir("an-ovl2"), tokenMeta)
    t2.append(TokenGen.generate(spark, 4000, numFiles = 8))
    Compaction.run(spark, t2, targetFileSize = 512L * 1024)
    val r2 = Analyze.analyze(t2)
    if (r2.files > 2) {
      val doc2 = r2.clustering.find(_.column == "doc_id").get
      val src2 = r2.clustering.find(_.column == "source").get
      assert(doc2.avgOverlap >= src2.avgOverlap,
        s"leading curve column should overlap no more than the last: $r2")
    }
    // render is human-shaped and total
    assert(r2.render.contains("recommendCompaction"))
  }

  test("overlap orders string stats the way footers do (unsigned UTF-8)") {
    def seg(id: String, mn: String, mx: String): SegmentMeta =
      SegmentMeta(id, s"data/$id.parquet", "parquet", 10, Some(1024L),
        Map("k" -> ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), 0)), None, None, 0)
    // U+E000 sorts below the supplementary U+1F600 in UTF-8 but above its
    // surrogate pair in UTF-16: the ranges are disjoint in footer order
    val smile = "\uD83D\uDE00"
    val c = Analyze.overlapStats("k", Seq(seg("a", "a", "\uE000"), seg("b", smile, smile))).get
    assert(c.filesWithStats == 2 && c.avgOverlap == 0.0 && c.maxOverlap == 0, c)
  }
}
