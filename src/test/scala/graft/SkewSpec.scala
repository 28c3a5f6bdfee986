package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.Compaction
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
}
