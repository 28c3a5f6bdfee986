package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, MergeInto}
import graft.meta._
import graft.table.TsTable

/** Skew handling (north rule: explicit repartitionByRange + salting for
  * skewed sources). The Zipf generator makes src00 ≈ 30% of all rows; the
  * curve key + salt range partitioning must still produce balanced output
  * files — including the degenerate case where EVERY row has the same
  * source (all curve keys share the source coordinate). */
class SkewSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def sizeBalance(t: TsTable): (Long, Long) = {
    val sizes = t.state.liveSegments.flatMap(_.fileSize).sorted
    (sizes.max, sizes(sizes.size / 2))
  }

  test("zipf-skewed sources: compacted file sizes stay balanced") {
    val root = tmpDir("skew-zipf")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 20000, numFiles = 40))
    Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024)
    assert(t.state.liveSegments.size >= 4, "fixture should produce several output files")
    val (mx, med) = sizeBalance(t)
    assert(mx <= med * 3, s"output skewed: max=$mx median=$med")
    assert(t.scan(spark).count() == 20000)
  }

  test("degenerate skew: single source for every row still balances (salt tie-break)") {
    val root = tmpDir("skew-one")
    val t = TsTable.create(root, tokenMeta)
    // constant source AND constant n_tok: curve key varies only in doc_id
    // bits; with identical (source, n_tok) the salt is what spreads ties
    val df = TokenGen.generate(spark, 8000, lenSpread = 1)
      .withColumn("source", lit("src00"))
    t.append(df.repartition(16))
    // the 16 segments hold about 1.3 MB, so a 1 MiB target makes two files
    Compaction.run(spark, t, targetFileSize = 1L * 1024 * 1024)
    val (mx, med) = sizeBalance(t)
    assert(t.state.liveSegments.size >= 2)
    assert(mx <= med * 3, s"degenerate-skew output unbalanced: max=$mx median=$med")
    assert(t.scan(spark).count() == 8000)
    // rows intact under the degenerate layout
    val want = TokenGen.generate(spark, 8000, lenSpread = 1).orderBy("doc_id")
      .select(hash(col("tokens"))).collect()
    val got = t.scan(spark).orderBy("doc_id").select(hash(col("tokens"))).collect()
    want.zip(got).foreach { case (w, g) => assert(w == g) }
  }

  test("insert-heavy merge: new keys beyond the candidates' curve range stay balanced") {
    val root = tmpDir("skew-merge")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 2000, numFiles = 4, lenSpread = 64))
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(t.state.liveSegments.size == 1)
    val candBytes = t.state.liveSegments.flatMap(_.fileSize).sum
    // 100 revised rows and 8 000 new ones (4x the candidates' 2 000 rows)
    // whose source, n_tok and doc_id all lie above the fitted ranges, so
    // every new curve key sorts after every candidate key
    val updates = TokenGen.generate(spark, 100, lenSpread = 64)
      .unionByName(TokenGen.generate(spark, 8000, idStart = 2000L, lenSpread = 64)
        .withColumn("source", lit("src99")).withColumn("n_tok", col("n_tok") + 1000))
    // about eight output files for the 10 000 rows
    val r = MergeInto.merge(spark, t, updates, targetFileSize = candBytes * 5 / 8 + 1)
    assert(r.candidates == 1 && r.updated == 100 && r.inserted == 8000)
    assert(t.state.liveSegments.size >= 6, "fixture should produce several output files")
    val (mx, med) = sizeBalance(t)
    assert(mx <= med * 2, s"merge output skewed: max=$mx median=$med " +
      s"sizes=${t.state.liveSegments.flatMap(_.fileSize).sorted}")
    assert(t.scan(spark).count() == 10000)
  }
}
