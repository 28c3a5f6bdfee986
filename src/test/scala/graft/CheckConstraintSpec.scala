package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, MergeInto, UpdateWhere}
import graft.meta._
import graft.table.{CheckViolationException, TsTable}

/** CHECK constraints: ingest-quality gates enforced on every write that
  * stages segments, with a sound footer-stats fast path. */
class CheckConstraintSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  test("append gated: violating batch rejected whole, clean batch lands; NULL passes") {
    val t = TsTable.create(tmpDir("chk"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    t.addCheck(spark, "tok_bounds", "n_tok BETWEEN 64 AND 2048")

    // clean append: stats prove the bound, batch lands
    t.append(TokenGen.generate(spark, 50, idStart = 5000L))
    assert(t.scan(spark).count() == 150)

    // violating append: rejected whole, nothing committed, no debris
    val v0 = t.version
    val bad = TokenGen.generate(spark, 10, idStart = 6000L)
      .withColumn("n_tok", lit(999999))
    val e = intercept[CheckViolationException] { t.append(bad) }
    assert(e.violations == 10 && e.check == "tok_bounds")
    assert(t.version == v0 && t.scan(spark).count() == 150)

    // NULL predicate passes (SQL CHECK): null n_tok rows are accepted
    t.append(TokenGen.generate(spark, 5, idStart = 7000L)
      .withColumn("n_tok", lit(null).cast("int")))
    assert(t.scan(spark).count() == 155)
  }

  test("a check declared before any schema is adopted row-checks every staged file") {
    val t = TsTable.create(tmpDir("chk-noschema"), tokenMeta)
    t.addCheck(spark, "tok_bounds", "n_tok >= 64 AND n_tok <= 2048")
    // stats that clear the check once it resolves against a schema
    val clean = SegmentMeta("s", "data/s.parquet", "parquet", 10L, None,
      Map("n_tok" -> ColStats(Some(StatVal.L(100L)), Some(StatVal.L(200L)), 0L)), None)
    val violated = not(expr("n_tok >= 64 AND n_tok <= 2048"))
    // nothing to resolve against yet: no file is cleared on stats
    assert(t.statsCandidates(spark, Seq(clean), violated)._1 == Seq(clean))

    val v0 = t.version
    val e = intercept[CheckViolationException] {
      t.append(TokenGen.generate(spark, 10, numFiles = 2).withColumn("n_tok", lit(999999)))
    }
    assert(e.violations == 10 && t.version == v0)
    t.append(TokenGen.generate(spark, 50, numFiles = 2))
    assert(t.scan(spark).count() == 50)
    // with the schema adopted, the same stats clear the file
    assert(t.statsCandidates(spark, Seq(clean), violated)._1.isEmpty)
  }

  test("a BETWEEN check clears a file on stats") {
    val t = TsTable.create(tmpDir("chk-between"), tokenMeta)
    t.append(TokenGen.generate(spark, 20, numFiles = 1))
    val clean = SegmentMeta("s", "data/s.parquet", "parquet", 10L, None,
      Map("n_tok" -> ColStats(Some(StatVal.L(100L)), Some(StatVal.L(200L)), 0L)), None)
    // the analyzed predicate keeps Spark's Between node
    assert(t.statsCandidates(spark, Seq(clean), expr("NOT (n_tok BETWEEN 64 AND 2048)"))._1.isEmpty)
    assert(t.statsCandidates(spark, Seq(clean), expr("NOT (n_tok BETWEEN 64 AND 150)"))._1 == Seq(clean))
  }

  test("BETWEEN over DATE bounds and to_date on a TIMESTAMP column prune by their replacement; DELETE finds the rows") {
    import spark.implicits._
    val t = TsTable.create(tmpDir("chk-between-ts"), TableMeta("ev",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1h"), None)), None, None))
    t.append(Seq("2024-01-10 12:00:00", "2024-02-10 12:00:00").toDF("s")
      .select(to_timestamp(col("s")).as("ts"), lit(1L).as("v")).coalesce(1))
    def us(s: String) = java.time.Instant.parse(s).getEpochSecond * 1000000L
    val jan10 = SegmentMeta("s", "data/s.parquet", "parquet", 10L, None,
      Map("ts" -> ColStats(Some(StatVal.L(us("2024-01-10T00:00:00Z"))),
        Some(StatVal.L(us("2024-01-11T00:00:00Z"))), 0L)), None)
    // coercion casts the DATE bounds inside Between's replacement only;
    // its raw parameters hold day numbers, not timestamp micros
    val jan = expr("ts BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'")
    assert(t.statsCandidates(spark, Seq(jan10), jan)._1 == Seq(jan10))
    // to_date is another node only its replacement (a cast) evaluates
    assert(t.statsCandidates(spark, Seq(jan10), expr("to_date(ts) = DATE '2024-01-12'"))._1.isEmpty)
    assert(t.statsCandidates(spark, Seq(jan10), expr("to_date(ts) = DATE '2024-01-10'"))._1 == Seq(jan10))
    // literals type coercion casts to the column's type fold away: an INT
    // literal against BIGINT, a DATE literal against TIMESTAMP
    assert(t.statsCandidates(spark, Seq(jan10), expr("ts >= DATE '2024-03-01'"))._1.isEmpty)
    val v1 = SegmentMeta("v", "data/v.parquet", "parquet", 10L, None,
      Map("v" -> ColStats(Some(StatVal.L(1L)), Some(StatVal.L(1L)), 0L)), None)
    assert(t.statsCandidates(spark, Seq(v1), col("v") > 5)._1.isEmpty)
    DeleteWhere.delete(spark, t, jan)
    assert(t.scan(spark).count() == 1)
  }

  test("addCheck validates existing data; dropCheck re-opens the gate") {
    val t = TsTable.create(tmpDir("chk2"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    val e = intercept[CheckViolationException] {
      t.addCheck(spark, "impossible", "n_tok > 100000")
    }
    assert(e.violations == 100)
    intercept[Exception] { t.addCheck(spark, "bad_col", "no_such_column > 0") }

    t.addCheck(spark, "src", "source LIKE 'src%'")
    intercept[IllegalArgumentException] { t.addCheck(spark, "src", "true") }
    val vBad = intercept[CheckViolationException] {
      t.append(TokenGen.generate(spark, 5, idStart = 8000L)
        .withColumn("source", lit("other")))
    }
    assert(vBad.check == "src")
    t.dropCheck("src")
    t.append(TokenGen.generate(spark, 5, idStart = 8000L)
      .withColumn("source", lit("other")))
    assert(t.scan(spark).where("source = 'other'").count() == 5)
  }

  test("rewrites pass the stats fast path; an out-of-bounds UPDATE is caught") {
    val t = TsTable.create(tmpDir("chk3"), tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 4))
    t.addCheck(spark, "tok_bounds", "n_tok BETWEEN 64 AND 2048")

    // compaction / merge restage validated rows — both must pass
    Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
    MergeInto.mergeMor(spark, t,
      TokenGen.generate(spark, 10, idStart = 100L).withColumn("source", lit("src00")))
    assert(t.scan(spark).count() == 200)

    // an UPDATE whose SET drives rows out of bounds is rejected whole,
    // on both the COW and the MOR path
    intercept[CheckViolationException] {
      UpdateWhere.update(spark, t, col("source") === "src00",
        Map("n_tok" -> lit(500000)))
    }
    intercept[CheckViolationException] {
      UpdateWhere.updateMor(spark, t, col("source") === "src00",
        Map("n_tok" -> lit(500000)))
    }
    t.refresh()
    assert(t.scan(spark).where("n_tok > 2048").count() == 0, "no partial write survived")
    // in-bounds update passes
    UpdateWhere.update(spark, t, col("source") === "src00", Map("n_tok" -> lit(2048)))
    assert(t.scan(spark).where("n_tok = 2048").count() > 0)
  }
}
