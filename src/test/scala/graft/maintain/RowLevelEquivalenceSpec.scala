package graft.maintain

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkFunSuite
import graft.meta._
import graft.table.TsTable

/** Copy-on-write and merge-on-read must be observably the same verb.
  * Random sequences of append, predicate DELETE/UPDATE, keyed MERGE /
  * delete-by-key and compaction run against eight variants of one table
  * (CoW or MOR × row tracking on/off × change feed on/off), on a clustered
  * and on a time-series table. After every step the mode-independent
  * report fields agree; at the end every variant scans the same rows, the
  * tracked variants agree on row identity, and replaying the change feed
  * from v0 rebuilds the final table. Sequences come from fixed seeds; a
  * failure names its seed and its steps. */
class RowLevelEquivalenceSpec extends SparkFunSuite {

  import RowLevelEquivalenceSpec._

  private val BatchRows = 20
  private val MaxKey = 6 * BatchRows // verbs aim at key % (keys appended so far)

  private val opGen: Gen[Op] = {
    val range = for { lo <- Gen.choose(0, MaxKey); w <- Gen.choose(1, 30) } yield (lo, lo + w)
    val keys = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.choose(0, MaxKey)))
    Gen.frequency(
      2 -> Gen.const(Append()),
      3 -> range.map { case (lo, hi) => DeleteRange(lo, hi) },
      3 -> Gen.zip(range, Gen.choose(1, 9)).map { case ((lo, hi), b) => UpdateRange(lo, hi, b) },
      3 -> Gen.zip(keys, Gen.choose(0, 3)).map { case (k, f) => Merge(k.distinct, f) },
      2 -> keys.map(k => DeleteKeys(k.distinct)),
      1 -> Gen.const(Compact()))
  }
  private val seqGen: Gen[List[Op]] =
    Gen.choose(4, 6).flatMap(n => Gen.listOfN(n, opGen)).map(Append() :: _)

  private def clusteredMeta = TableMeta("rl",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)
  private def tsMeta = TableMeta("rl",
    TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None)

  private def key(i: Int): String = "k%05d".format(i)

  /** Rows for key indexes `keys`, content tagged `rev`. Time-series rows
    * of append batch `hour` fall in that hour; merged rows in hour 0, which
    * the first append already covers, so later appends never overlap. */
  private def rows(keys: Seq[Int], rev: String, ts: Boolean, hour: Int): DataFrame = {
    import spark.implicits._
    val base = keys.toDF("i").select(
      format_string("k%05d", col("i")).as("doc_id"),
      ((col("i") * 7 + lit(rev.length)) % 50).cast("int").as("n_tok"),
      concat(lit(rev), (col("i") % 3).cast("string")).as("source"),
      col("i"))
    val withTime =
      if (ts) base.withColumn("ts", timestamp_seconds(
        lit(1709251200L) + lit(hour * 3600L) + (col("i") % 60) * 60))
      else base.withColumn("tokens", array(col("i"), col("i") + 1))
    withTime.drop("i").repartition(2)
  }

  private val variants = for {
    mor <- Seq(false, true); tracked <- Seq(false, true); cdf <- Seq(false, true)
  } yield Variant(mor, tracked, cdf)

  /** Run one verb on one variant; returns its mode-independent report
    * fields. */
  private def step(t: TsTable, v: Variant, op: Op, ts: Boolean,
                   batch: Int, opIx: Int): Seq[Long] = {
    val appended = batch * BatchRows
    def inRange(lo: Int, hi: Int): Column =
      col("doc_id") >= key(lo % appended) && col("doc_id") < key(lo % appended + hi - lo)
    op match {
      case Append() =>
        t.append(rows(appended until appended + BatchRows, "a", ts, batch))
        Nil
      case DeleteRange(lo, hi) =>
        val r = if (v.mor) DeleteWhere.deleteMor(spark, t, inRange(lo, hi))
                else DeleteWhere.delete(spark, t, inRange(lo, hi))
        Seq(r.rowsDeleted, r.survivors)
      case UpdateRange(lo, hi, bump) =>
        val set = Map("n_tok" -> (col("n_tok") + bump), "source" -> concat(lit("u"), col("source")))
        val r = if (v.mor) UpdateWhere.updateMor(spark, t, inRange(lo, hi), set)
                else UpdateWhere.update(spark, t, inRange(lo, hi), set)
        Seq(r.rowsUpdated)
      case Merge(keys, fresh) =>
        // aimed at appended keys only (live or deleted), so keys stay unique
        val aimed = keys.map(_ % appended).distinct
        val upd = rows(aimed ++ (0 until fresh).map(10000 + opIx * 10 + _), s"m$opIx", ts, 0)
        val r = if (v.mor) MergeInto.mergeMor(spark, t, upd) else MergeInto.merge(spark, t, upd)
        Seq(r.updated, r.inserted)
      case DeleteKeys(keys0) =>
        // the keyed delete is merge-on-read only; its CoW twin is the
        // equivalent predicate delete
        val keys = keys0.map(_ % appended).distinct
        val r =
          if (v.mor) MergeInto.mergeDelete(spark, t,
            spark.createDataFrame(keys.map(k => Tuple1(key(k)))).toDF("doc_id"))
          else DeleteWhere.delete(spark, t, col("doc_id").isin(keys.map(key): _*))
        Seq(r.rowsDeleted, r.survivors)
      case Compact() =>
        Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)
        Nil
    }
  }

  private def sorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted
    df.select(cols.toIndexedSeq.map(col): _*).collect().toSeq.sortBy(_.toString)
  }

  /** The change feed from v0, replayed: every record image counted +1
    * (insert, update_post) or -1 (delete, update_pre); the images left
    * with a positive count, that many times each. */
  private def replayed(t: TsTable): Seq[Row] = {
    val logical = t.scan(spark).columns.toSeq
    val sign = when(col(ChangeFeed.ChangeTypeCol).isin("insert", "update_post"), 1L).otherwise(-1L)
    val net = ChangeFeed.read(spark, t, 0L, t.version)
      .groupBy(logical.map(col): _*).agg(sum(sign).as("__n")).where(col("__n") > 0)
    sorted(net.withColumn("__r", explode(sequence(lit(1L), col("__n")))).drop("__n", "__r"))
  }

  private def runSequence(ops: List[Op], ts: Boolean): Unit = {
    val tables = variants.map { v =>
      val t = TsTable.create(tmpDir(s"rl-$v".replace('/', '-')), if (ts) tsMeta else clusteredMeta)
      if (v.tracked) t.enableRowTracking()
      if (v.cdf) t.enableCdf()
      v -> t
    }
    // per tracked variant: the step at which each row id first appeared
    val firstSeen = tables.filter(_._1.tracked)
      .map(_._1 -> scala.collection.mutable.Map.empty[Long, Int]).toMap
    var batch = 0
    ops.zipWithIndex.foreach { case (op, ix) =>
      val reports = tables.map { case (v, t) => v -> step(t, v, op, ts, batch, ix) }
      reports.foreach { case (v, r) =>
        assert(r == reports.head._2,
          s"step $ix $op: $v reported $r, ${reports.head._1} ${reports.head._2}")
      }
      if (op == Append()) batch += 1
      tables.filter(_._1.tracked).foreach { case (v, t) =>
        t.scanWithRowIds(spark).select("_row_id").collect()
          .foreach(r => firstSeen(v).getOrElseUpdate(r.getLong(0), ix))
      }
    }

    val expected = sorted(tables.head._2.scan(spark))
    tables.foreach { case (v, t) =>
      assert(sorted(t.scan(spark)) == expected, s"$v scans differently from ${tables.head._1}")
      if (v.cdf)
        assert(replayed(t) == expected, s"$v: change feed replay does not rebuild the table")
    }
    // row identity: ids are unique, and every row's id was minted at the
    // same step in every tracked variant (minted ids differ across modes,
    // since a CoW rewrite advances the id high-water mark by whole files)
    val identity = tables.filter(_._1.tracked).map { case (v, t) =>
      val ids = t.scanWithRowIds(spark).select("doc_id", "_row_id").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      assert(ids.map(_._2).distinct.length == ids.length, s"$v: duplicate row ids")
      v -> ids.map { case (k, id) => k -> firstSeen(v)(id) }.sorted.toSeq
    }
    identity.foreach { case (v, m) =>
      assert(m == identity.head._2, s"$v: row identity differs from ${identity.head._1}")
    }
  }

  private val params = Gen.Parameters.default
  for ((kind, ts, seeds) <- Seq(
      ("clustered", false, Seq(13L, 28L)), ("time-series", true, Seq(23L, 18L)))) {
    test(s"random verb sequences on a $kind table: CoW and MOR × row tracking × CDF agree") {
      seeds.foreach { seed =>
        val ops = seqGen.pureApply(params, Seed(seed))
        info(s"seed $seed: $ops")
        withClue(s"seed $seed, steps $ops: ") { runSequence(ops, ts) }
      }
    }
  }

  test("a bigint n_tok update set lands as the table's int column in both modes") {
    for (ts <- Seq(false, true); mor <- Seq(false, true)) {
      val t = TsTable.create(tmpDir("rl-bigint"), if (ts) tsMeta else clusteredMeta)
      t.append(rows(0 until 40, "a", ts, 0))
      val upd = rows(30 until 45, "m", ts, 0).withColumn("n_tok", col("n_tok").cast("long"))
      val r = if (mor) MergeInto.mergeMor(spark, t, upd) else MergeInto.merge(spark, t, upd)
      withClue(s"ts=$ts mor=$mor: ") {
        assert(r.updated == 10 && r.inserted == 5)
        val tableType = t.meta.schema.get("n_tok").dataType
        t.state.liveSegments.foreach { s =>
          assert(spark.read.parquet(s"${t.root}/${s.path}").schema("n_tok").dataType == tableType)
        }
        assert(sorted(t.scan(spark)) == sorted(rows(0 until 30, "a", ts, 0).unionByName(
          rows(30 until 45, "m", ts, 0))))
      }
    }
  }

  test("MergeInto.Report.survivors = table live rows minus rows matched, in both modes") {
    for (mor <- Seq(false, true)) {
      val t = TsTable.create(tmpDir("rl-survivors"), clusteredMeta)
      t.append(rows(0 until 200, "a", ts = false, 0))
      def merge(df: DataFrame) =
        if (mor) MergeInto.mergeMor(spark, t, df) else MergeInto.merge(spark, t, df)
      val insertOnly = merge(rows(1000 until 1005, "m", ts = false, 0))
      assert(insertOnly.survivors == 200 && insertOnly.inserted == 5, s"mor=$mor")
      val overlapping = merge(rows(0 until 10, "n", ts = false, 0))
      assert(overlapping.updated == 10 && overlapping.survivors == 195, s"mor=$mor")
    }
  }

  /** Rows keyed by `keys` (NULL allowed) with content tagged `rev`. */
  private def keyed(keys: Seq[Any], keyType: DataType, rev: String): DataFrame = {
    val schema = new StructType().add("doc_id", keyType).add("n_tok", IntegerType)
      .add("source", StringType).add("tokens", ArrayType(IntegerType))
    spark.createDataFrame(keys.zipWithIndex.map { case (k, i) =>
      Row(k, (i * 7 + rev.length) % 50, s"$rev${i % 3}", Seq(i, i + 1))
    }.asJava, schema).repartition(2)
  }

  // string keys cycle through a BMP letter, U+FFFD and a supplementary
  // character, so every file's [min, max] spans all three. The verbs aim
  // at U+FFFD keys only (index 1 mod 3): in UTF-16 order they sort above a
  // file's supplementary max, so a UTF-16 range test would prune every file
  private val keyKinds: Seq[(String, DataType, Int => Any)] = Seq(
    ("string", StringType, i => Seq("a", "\uFFFD", "\uD83D\uDE00")(i % 3) + "%05d".format(i)),
    ("bigint", LongType, i => (i - 300) * 7919L))

  test("keyed MERGE and delete-by-key agree across the key-set cap, NULL keys included") {
    val cap = MergeInto.BloomKeyCap.toInt
    for ((kind, keyType, k) <- keyKinds; n <- Seq(cap - 1, cap, cap + 1)) withClue(s"$kind, $n keys: ") {
      // two appends of 300 keyed rows; the first adds two NULL-key rows
      val batches = Seq((0 until 300).map(k) ++ Seq(null, null), (300 until 600).map(k))
      def table(name: String): TsTable = {
        val t = TsTable.create(tmpDir(s"rl-cap-$name"), clusteredMeta)
        t.enableCdf()
        batches.zipWithIndex.foreach { case (b, i) => t.append(keyed(b, keyType, s"a$i")) }
        t
      }
      val initial = batches.zipWithIndex.map { case (b, i) => keyed(b, keyType, s"a$i") }
        .reduce(_ unionByName _)
      // n input rows: one NULL key, half the rest live keys, half new ones
      val live = (0 until (n - 1) / 2).map(i => k(3 * i + 1))
      val fresh = (0 until n - 1 - live.size).map(i => k(1000 + 3 * i + 1))
      val input = live ++ fresh :+ null

      val upd = keyed(input, keyType, "m")
      val merged = sorted(initial.join(upd.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(upd))
      val cow = table("cow"); val mor = table("mor")
      val rc = MergeInto.merge(spark, cow, upd)
      val rm = MergeInto.mergeMor(spark, mor, upd)
      assert((rc.updated, rc.inserted) == ((live.size.toLong, n - live.size.toLong)), s"CoW $rc")
      assert((rm.updated, rm.inserted) == ((rc.updated, rc.inserted)), s"MOR $rm")
      Seq("CoW" -> cow, "MOR" -> mor).foreach { case (mode, t) =>
        assert(sorted(t.scan(spark)) == merged, s"$mode MERGE scans differently")
        assert(replayed(t) == merged, s"$mode MERGE: change feed replay differs")
      }

      val keys = spark.createDataFrame(input.map(Row(_)).asJava,
        new StructType().add("doc_id", keyType))
      val deleted = sorted(initial.join(keys, Seq("doc_id"), "left_anti"))
      val byKey = table("delete-keys"); val byPredicate = table("delete-where")
      val dk = MergeInto.mergeDelete(spark, byKey, keys)
      val dp = DeleteWhere.delete(spark, byPredicate, col("doc_id").isin(live: _*))
      assert(dk.rowsDeleted == live.size && dp.rowsDeleted == live.size, s"$dk / $dp")
      assert(sorted(byKey.scan(spark)) == deleted, "delete-by-key scans differently")
      assert(sorted(byPredicate.scan(spark)) == deleted, "predicate delete scans differently")
      assert(replayed(byKey) == deleted, "delete-by-key: change feed replay differs")
    }
  }

  test("a DOUBLE bloom key: -0.0 matches the 0.0 row by key and by predicate, as 0.0 = -0.0") {
    import spark.implicits._
    val meta = TableMeta("neg", TableKind.Clustered(ClusterSpec(Seq("g", "k"), "zorder")), None, None)
    // k, the last cluster column, carries the footer bloom; 0.0 lives in
    // the first file, and the second file holds other keys
    def table(name: String): TsTable = {
      val t = TsTable.create(tmpDir(s"rl-neg-zero-$name"), meta)
      t.append(Seq(("a", 0.0, "old"), ("a", 1.5, "old")).toDF("g", "k", "v").coalesce(1))
      t.append(Seq(("b", 2.5, "old"), ("b", 3.5, "old")).toDF("g", "k", "v").coalesce(1))
      assert(t.bloomKeyColumn.contains("k") && t.state.liveSegments.size == 2)
      t
    }
    def zeros(t: TsTable): Seq[String] =
      t.scan(spark).where(col("k") === 0.0).select("v").as[String].collect().toSeq
    val upd = Seq(("a", -0.0, "new")).toDF("g", "k", "v")

    val byKey = table("delete-keys")
    val dk = MergeInto.mergeDelete(spark, byKey, Seq(-0.0).toDF("k"), key = "k")
    assert(dk.rowsDeleted == 1 && zeros(byKey).isEmpty, s"mergeDelete: $dk")
    val byPredicate = table("delete-where")
    val dp = DeleteWhere.deleteMor(spark, byPredicate, col("k") === -0.0)
    assert(dp.rowsDeleted == 1 && zeros(byPredicate).isEmpty, s"deleteMor: $dp")
    for (mor <- Seq(false, true)) {
      val t = table(s"merge-$mor")
      val r = if (mor) MergeInto.mergeMor(spark, t, upd, key = "k")
              else MergeInto.merge(spark, t, upd, key = "k")
      assert((r.updated, r.inserted) == ((1L, 0L)) && zeros(t) == Seq("new") &&
        t.scan(spark).count() == 4, s"mor=$mor: $r")
    }
  }

  test("a predicate delete by doc_id IN (…) deletes the same rows in both modes; DVs only where a key lives") {
    for ((kind, keyType, k) <- keyKinds) withClue(s"$kind: ") {
      val batches = Seq((0 until 300).map(k), (300 until 600).map(k))
      def table(name: String): TsTable = {
        val t = TsTable.create(tmpDir(s"rl-in-$name"), clusteredMeta)
        batches.zipWithIndex.foreach { case (b, i) => t.append(keyed(b, keyType, s"a$i")) }
        t
      }
      val initial = batches.zipWithIndex.map { case (b, i) => keyed(b, keyType, s"a$i") }
        .reduce(_ unionByName _)
      // four live keys across both appends and one absent key
      val victims = Seq(1, 4, 301, 598).map(k) :+ k(5000)
      val cond = col("doc_id").isin(victims: _*)
      val expected = sorted(initial.where(!cond))
      val cow = table("cow"); val mor = table("mor")
      val holding = mor.scan(spark).where(cond).select(input_file_name()).distinct().count()
      val rc = DeleteWhere.delete(spark, cow, cond)
      val rm = DeleteWhere.deleteMor(spark, mor, cond)
      assert(rc.rowsDeleted == 4 && rm.rowsDeleted == 4, s"$rc / $rm")
      assert(sorted(cow.scan(spark)) == expected, "CoW delete scans differently")
      assert(sorted(mor.scan(spark)) == expected, "MOR delete scans differently")
      val dvs = mor.state.liveSegments.filter(_.dvPath.isDefined)
      assert(rm.dvAttached == holding && dvs.size == holding, s"$rm, $holding files hold a key")
      assert(dvs.map(_.dvCardinality).sum == 4)
      assert(rc.candidates >= holding, rc)
    }
  }
}

object RowLevelEquivalenceSpec {
  private sealed trait Op
  private final case class Append() extends Op
  private final case class DeleteRange(lo: Int, hi: Int) extends Op
  private final case class UpdateRange(lo: Int, hi: Int, bump: Int) extends Op
  private final case class Merge(keys: Seq[Int], fresh: Int) extends Op
  private final case class DeleteKeys(keys: Seq[Int]) extends Op
  private final case class Compact() extends Op

  private final case class Variant(mor: Boolean, tracked: Boolean, cdf: Boolean) {
    override def toString: String =
      s"${if (mor) "mor" else "cow"}/ids=$tracked/cdf=$cdf"
  }
}
