package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, MergeInto}
import graft.meta._
import graft.scan.FilePruning
import graft.table.{KeyBloom, TsTable}

/** The bloom tier of the one pruning entry ([[FilePruning]]): a key-equality
  * or small key-set scan reads only the files whose footer bloom may hold a
  * key, and the tier probes nothing it cannot prove. */
class KeyBloomScanSpec extends SparkFunSuite {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  /** `df`'s rows and the files its executed scans read ("number of files
    * read", summed over both branches of a DV'd snapshot's union). */
  private def read(df: DataFrame): (Seq[Row], Long) = {
    var rows = Seq.empty[Row]
    val plans = PlanCapture(spark) { rows = df.collect().toSeq }
    (rows, plans.flatMap(scans).map(_.metrics("numFiles").value).sum)
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("a point lookup reads only the files that hold its key, on both union branches") {
    val base = tmpDir("bloom-base")
    TokenGen.generate(spark, 3000, numFiles = 24, lenSpread = 64)
      .write.mode("overwrite").parquet(base)
    val t = TsTable.create(tmpDir("bloom-scan"), TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 3000, numFiles = 24, lenSpread = 64))
    // one z-ordered rewrite of the whole table into ~12 files: each file's
    // doc_id [min, max] spans most of the keyspace
    val bytes = t.state.liveSegments.flatMap(_.fileSize).sum
    Compaction.run(spark, t, targetFileSize = bytes / 12)
    assert(t.state.liveSegments.size >= 12, t.state.liveSegments.size)

    def id(i: Int) = f"doc-$i%012d"
    val deleted = Seq(id(17), id(1700))
    val merged = Seq(id(42), id(2042))
    DeleteWhere.deleteMor(spark, t, col("doc_id").isin(deleted: _*))
    val mergeDir = tmpDir("bloom-merge")
    TokenGen.generateForIds(spark, merged, lenSpread = 64, salt = "rev")
      .write.mode("overwrite").parquet(mergeDir)
    MergeInto.mergeMor(spark, t, spark.read.parquet(mergeDir))
    val live = t.state.liveSegments
    assert(live.exists(_.dvPath.isDefined) && live.exists(_.dvPath.isEmpty))

    // the live set as plain Parquet: base rows minus the deleted and merged
    // keys, plus the merged images
    val oracle = spark.read.parquet(base).where(!col("doc_id").isin(deleted ++ merged: _*))
      .unionByName(spark.read.parquet(mergeDir))
    def check(what: String, cond: Column, maxFiles: Long): Unit = {
      val (rows, files) = read(t.scan(spark).where(cond))
      assert(sorted(rows) == sorted(oracle.where(cond).collect().toSeq), s"$what: rows differ")
      assert(files <= maxFiles, s"$what read $files files of ${live.size}")
    }
    val absent = id(90000)
    Seq("present" -> id(1234), "absent" -> absent, "MOR-deleted" -> deleted.head,
        "MOR-merged" -> merged.head).foreach { case (what, k) =>
      check(s"$what key", col("doc_id") === k, 2)
    }
    check("present and merged keys", col("doc_id").isin(id(1234), merged(1)), 4)
    check("deleted and absent keys", col("doc_id").isin(deleted(1), absent), 4)
  }

  /** The conjuncts of `cond`'s optimized filter over an empty Parquet
    * relation of `schema`, as the scan hands them to the entry. */
  private def optimized(schema: StructType, cond: Column): Seq[Expression] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    spark.read.schema(schema).parquet(tmpDir("bloom-probe")).where(cond)
      .queryExecution.optimizedPlan.collect { case Filter(c, _) => split(c) }.flatten
  }

  test("the bloom tier refuses what it cannot prove") {
    val schema = new StructType().add("doc_id", StringType).add("other", StringType)
      .add("k_double", DoubleType).add("k_int", IntegerType).add("k_long", LongType)
      .add("k_lcase", StringType("UTF8_LCASE"))
    def probe(cond: Column, column: String = "doc_id") =
      FilePruning.probeKeys(optimized(schema, cond), column)
    def utf8(s: String) = UTF8String.fromString(s)

    // what it proves: equality and small IN lists on STRING, INT, BIGINT
    assert(probe(col("doc_id") === "a") == Some(Seq(utf8("a"))))
    assert(probe(lit("a") === col("doc_id")) == Some(Seq(utf8("a"))))
    assert(probe(col("k_int") === 7, "k_int") == Some(Seq(7)))
    assert(probe(col("k_long") === 7L, "k_long") == Some(Seq(7L)))
    assert(probe(col("doc_id").isin("a", "b")).map(_.toSet) == Some(Set(utf8("a"), utf8("b"))))
    val cap = MergeInto.BloomKeyCap.toInt
    assert(probe(col("doc_id").isin((0 until cap).map(i => s"k$i"): _*)).map(_.size) == Some(cap))
    // the conjunct with the fewest keys; NULL list entries are never keys
    assert(probe(col("doc_id").isin("a", "b", "c") && col("doc_id") === "b") == Some(Seq(utf8("b"))))
    assert(probe(col("doc_id").isin("a", null)) == Some(Seq(utf8("a"))))

    // what it refuses
    assert(probe(col("other") === "a").isEmpty, "a non-key column")
    assert(probe(col("k_double") === 1.5, "k_double").isEmpty, "a DOUBLE key")
    assert(probe(col("k_lcase") === "a", "k_lcase").isEmpty, "a UTF8_LCASE key")
    assert(probe(col("doc_id") === lit(null).cast("string")).isEmpty, "a NULL literal")
    val attr = AttributeReference("doc_id", StringType)()
    val nul = Literal(null, StringType)
    assert(FilePruning.probeKeys(Seq(EqualTo(attr, nul)), "doc_id").isEmpty, "key = NULL")
    assert(FilePruning.probeKeys(Seq(In(attr, Seq(nul))), "doc_id").isEmpty, "key IN (NULL)")
    assert(probe(col("doc_id").isin((0 to cap).map(i => s"k$i"): _*)).isEmpty, s"${cap + 1} keys")
    assert(probe(col("doc_id") > "a").isEmpty, "key > lit")
  }

  test("a supplementary-character STRING key hashes as Parquet's writer did") {
    val keys = Seq("𝄞-clef", "doc-😀", "�", "plain")
    val t = TsTable.create(tmpDir("bloom-utf8"), TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generateForIds(spark, keys, lenSpread = 8).repartition(1))
    val file = s"${t.root}/${t.state.liveSegments.head.path}"
    val conf = spark.sparkContext.hadoopConfiguration
    keys.foreach { k =>
      val probe = FilePruning.probeKeys(optimized(t.scan(spark).schema, col("doc_id") === k), "doc_id")
      // the probe is the column's UTF-8 bytes as stored, not a re-encoding
      assert(probe.map(_.map(_.asInstanceOf[UTF8String].getBytes.toSeq)) == Some(Seq(k.getBytes(UTF_8).toSeq)))
      assert(KeyBloom.mayContainAny(conf, file, "doc_id", probe.get.toArray), s"bloom misses '$k'")
      assert(t.scan(spark).where(col("doc_id") === k).count() == 1, s"lookup misses '$k'")
    }
    assert(!KeyBloom.mayContainAny(conf, file, "doc_id", Array(UTF8String.fromString("𝄟-clef"))))
  }

  test("a widened INT key keeps the INT32 files written before the widening") {
    import spark.implicits._
    val t = TsTable.create(tmpDir("bloom-widen"), TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "id"), "zorder")), None, None))
    t.append((0 until 200).map(i => (i, s"s${i % 3}", i * 2)).toDF("id", "source", "v").repartition(2))
    t.alterColumnType("id", LongType)
    assert(t.scan(spark).where(col("id") === 17L).select("v").as[Int].collect().toSeq == Seq(34))
    assert(t.scan(spark).where(col("id").isin(17L, 18L)).count() == 2)
    // a keyed MERGE probes the same blooms: the old row is updated, not duplicated
    val r = MergeInto.merge(spark, t, Seq((17L, "s2", -1)).toDF("id", "source", "v"), key = "id")
    assert(r.updated == 1 && r.inserted == 0, r)
    assert(t.scan(spark).where(col("id") === 17L).select("v").as[Int].collect().toSeq == Seq(-1))
  }
}
