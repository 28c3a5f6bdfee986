package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere}
import graft.meta._
import graft.table.TsTable

/** ADD COLUMN: metadata-only evolution — old rows NULL, new appends
  * enforced against the evolved schema, maintenance unaffected. */
class SchemaEvolutionSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  test("old rows scan NULL; new rows carry values; old-schema append rejected") {
    val t = TsTable.create(tmpDir("evo"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    val vEvo = t.addColumn("quality", IntegerType)
    assert(vEvo == t.version)

    // scans of the evolved table: old files fill NULL, schema has 5 cols
    assert(t.scan(spark).schema.fieldNames.last == "quality")
    assert(t.scan(spark).where(col("quality").isNull).count() == 200)

    // a post-evolution append must carry the evolved schema...
    intercept[Exception] { t.append(TokenGen.generate(spark, 10, idStart = 9000L)) }
    // ...and with it, lands fine
    t.append(TokenGen.generate(spark, 50, idStart = 9000L)
      .withColumn("quality", lit(7)))
    assert(t.scan(spark).where(col("quality") === 7).count() == 50)
    assert(t.scan(spark).count() == 250)

    // duplicate add and unknown-state guards
    intercept[IllegalArgumentException] { t.addColumn("quality", StringType) }

    // maintenance reads/writes the evolved schema: compaction merges old
    // (NULL-filled) and new files; the DV path still masks correctly
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    assert(t.scan(spark).where(col("quality").isNull).count() == 200)
    DeleteWhere.deleteMor(spark, t, col("quality") === 7)
    assert(t.scan(spark).count() == 200)
    assert(t.scan(spark).where(col("quality").isNotNull).count() == 0)
  }

  test("evolution is time-travelable: the pre-evolution snapshot keeps 4 columns") {
    val t = TsTable.create(tmpDir("evo-tt"), tokenMeta)
    t.append(TokenGen.generate(spark, 50, numFiles = 1))
    val pre = t.version
    t.addColumn("extra", StringType)
    assert(t.scanAt(spark, pre).schema.fieldNames.length == 4)
    assert(t.scan(spark).schema.fieldNames.length == 5)
  }

  test("DROP COLUMN: metadata-only narrowing; guards; post-drop appends and rewrites") {
    val t = TsTable.create(tmpDir("evo-drop"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    t.addColumn("quality", IntegerType)
    t.append(TokenGen.generate(spark, 50, idStart = 9000L)
      .withColumn("quality", lit(3)))
    val pre = t.version

    // guards: identity columns, check-referenced columns, unknown, last
    intercept[IllegalArgumentException] { t.dropColumn("doc_id") }   // cluster col
    intercept[IllegalArgumentException] { t.dropColumn("nope") }
    t.addCheck(spark, "q_bound", "quality IS NULL OR quality < 100")
    intercept[IllegalStateException] { t.dropColumn("quality") }     // check references it
    t.dropCheck("q_bound")
    // the reference is read from the parsed CHECK: any letter case names
    // the column, a string literal spelling it does not
    t.addCheck(spark, "q_upper", "QUALITY IS NULL OR QUALITY < 100")
    intercept[IllegalStateException] { t.dropColumn("quality") }
    t.dropCheck("q_upper")
    t.addCheck(spark, "not_q", "source <> 'quality'")

    t.dropColumn("quality")
    t.dropCheck("not_q")
    assert(t.scan(spark).schema.fieldNames.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source"))
    assert(t.scan(spark).count() == 150)
    // pre-drop snapshot still carries the column (time travel unaffected)
    assert(t.scanAt(spark, pre).schema.fieldNames.contains("quality"))
    assert(t.scanAt(spark, pre).where(col("quality") === 3).count() == 50)

    // post-drop append: narrowed schema is the enforced schema; the wide
    // one is now rejected
    intercept[Exception] {
      t.append(TokenGen.generate(spark, 10, idStart = 9500L).withColumn("quality", lit(1)))
    }
    t.append(TokenGen.generate(spark, 10, idStart = 9500L))
    assert(t.scan(spark).count() == 160)

    // compaction over mixed wide/narrow files rewrites WITHOUT the column
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    assert(t.scan(spark).count() == 160)
    assert(!t.scan(spark).schema.fieldNames.contains("quality"))
    // and the rewritten files physically shed it (footer-derived schema)
    val widest = t.files(spark).select("path").collect().map(_.getString(0))
      .map(p => spark.read.parquet(s"${t.root}/$p").schema.fieldNames.length).max
    assert(widest == 4, "post-compaction files must not carry the dropped column")
  }

  test("ALTER CLUSTER BY: metadata-only spec swap; guards; next compaction re-clusters") {
    val t = TsTable.create(tmpDir("evo-cluster"), tokenMeta)
    t.append(TokenGen.generate(spark, 2000, numFiles = 16))
    // small first target ⇒ several ~1 MB outputs, all of which qualify as
    // "small" for the post-alter pass's larger target
    Compaction.run(spark, t, targetFileSize = 1L * 1024 * 1024)
    val checksum = t.scan(spark)
      .agg(expr("bit_xor(xxhash64(doc_id, tokens))")).first.getLong(0)
    val vPre = t.version

    // guards: unknown column, duplicates, bad curve, time-series identity
    intercept[IllegalArgumentException] { t.alterClusterBy(Seq("nope"), "zorder") }
    intercept[IllegalArgumentException] { t.alterClusterBy(Seq("n_tok", "n_tok"), "zorder") }
    intercept[IllegalArgumentException] { t.alterClusterBy(Seq("n_tok"), "wiggly") }
    val ts = TsTable.create(tmpDir("evo-cluster-ts"), TableMeta("evts",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)),
      None, None))
    intercept[IllegalStateException] { ts.alterClusterBy(Seq("ts"), "zorder") }
    // a same-spec alter is a no-op: no commit burned
    assert(t.alterClusterBy(Seq("source", "n_tok", "doc_id"), "zorder") == vPre)

    val v = t.alterClusterBy(Seq("n_tok", "source", "doc_id"), "hilbert")
    assert(v > vPre && t.version == v)
    assert(t.clusterSpec.contains(ClusterSpec(Seq("n_tok", "source", "doc_id"), "hilbert")))
    // the alter itself touches no data (metadata-only commit)
    assert(t.scan(spark).count() == 2000)

    // next compaction re-clusters under the new spec: small target forces
    // multiple outputs, and with n_tok leading the per-file n_tok ranges
    // must separate the halves (same locality assert the zorder fixture
    // uses); rows and token bytes survive the re-cluster exactly
    val rep = Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024,
      groupFactor = 256)
    assert(rep.binsExecuted >= 1, "re-cluster pass must rewrite")
    assert(t.scan(spark).count() == 2000)
    assert(t.scan(spark)
      .agg(expr("bit_xor(xxhash64(doc_id, tokens))")).first.getLong(0) == checksum)
    val live = t.state.liveSegments
    if (live.size > 1) {
      val mid = 64 + 1985 / 2
      val separated = live.count { s =>
        s.stats.get("n_tok").exists { st =>
          st.min.exists { case graft.meta.StatVal.L(v) => v > mid; case _ => false } ||
          st.max.exists { case graft.meta.StatVal.L(v) => v < mid; case _ => false }
        }
      }
      assert(separated >= 1, "n_tok-leading hilbert produced no half-separated file")
    }
  }

  test("ALTER COLUMN TYPE: widening is metadata-only; mixed-era reads, writes, maintenance; guards") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val t = TsTable.create(tmpDir("evo-widen"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    val narrowSum = t.scan(spark).agg(sum("n_tok")).collect()(0).getLong(0)

    // widen n_tok int→long: one commit, zero rewrites, old files read LONG
    t.alterColumnType("n_tok", LongType)
    assert(t.scan(spark).schema("n_tok").dataType == LongType)
    assert(t.scan(spark).agg(sum("n_tok")).collect()(0).getLong(0) == narrowSum)
    // the narrow-era files keep pruning: the INT literal folds to BIGINT
    assert(t.statsCandidates(spark, t.state.liveSegments, col("n_tok") > 5000)._1.isEmpty)

    // appends must arrive with the NEW type: the old int shape is drift…
    intercept[Exception] { t.append(TokenGen.generate(spark, 10, idStart = 5000)) }
    // …and the widened shape lands
    t.append(TokenGen.generate(spark, 50, idStart = 5000)
      .withColumn("n_tok", col("n_tok").cast(LongType)))
    assert(t.scan(spark).count() == 250)

    // maintenance across mixed-width file eras: CoW delete + compaction
    DeleteWhere.delete(spark, t, col("n_tok") > lit(1500L))
    val afterDel = t.scan(spark).count()
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(t.scan(spark).count() == afterDel)
    assert(t.scan(spark).where(col("n_tok") > 1500).count() == 0)

    // guards: narrowing, lossy long→double, unknown column, time index
    intercept[IllegalArgumentException] { t.alterColumnType("n_tok", IntegerType) }
    intercept[IllegalArgumentException] { t.alterColumnType("n_tok", DoubleType) }
    intercept[IllegalArgumentException] { t.alterColumnType("nope", LongType) }

    // array-element widening: tokens array<int> → array<long> (the token-id
    // width migration a growing vocab forces); old repeated pages read exact
    val tokSumBefore = t.scan(spark)
      .selectExpr("sum(aggregate(tokens, 0L, (a, x) -> a + x)) AS s").collect()(0).getLong(0)
    t.alterColumnType("tokens", org.apache.spark.sql.types.ArrayType(LongType))
    assert(t.scan(spark)
      .selectExpr("sum(aggregate(tokens, 0L, (a, x) -> a + x)) AS s")
      .collect()(0).getLong(0) == tokSumBefore)

    // composes with RENAME (on a non-cluster column — cluster columns
    // refuse rename by design): both evolutions live in one meta
    t.renameColumn("tokens", "token_ids")
    assert(t.scan(spark).select("token_ids").schema.nonEmpty)
    assert(t.scan(spark).where(col("n_tok") <= 1500).count() == afterDel)
  }
}
