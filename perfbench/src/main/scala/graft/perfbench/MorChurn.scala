package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, MergeInto}
import graft.table.TsTable
import Common._

/** `mor_churn`: small writes beside reads. Each round runs, on one writer
  * handle, an append of `Append` rows, a merge-on-read MERGE of `Merge`
  * keys and a merge-on-read DELETE of `Delete` ids. After each write a
  * separate reader handle refreshes and runs `LookupsPerWrite` point
  * lookups; the round ends with one full `tok_sum` scan through the reader.
  * Files, DVs and commits pile up across the run, so log replay, commit,
  * footer stats, DV attach and DV read-through dominate while shuffle and
  * encode stay small. One operation of the loop is one round. */
final class MorChurn(ctx: Ctx) extends Workload(ctx) {
  import MorChurn._
  private val spark = ctx.spark
  val Rows = 4000L
  val InputFiles = 8
  val Append = 500
  val Merge = 200
  val Delete = 100
  val LookupsPerWrite = 4
  /** Rounds staged ahead; the loop stops early if it runs out. */
  val Rounds = 8

  private val base = ctx.rng.nextInt(1000) * 1000000L
  private val appendStart = base + Rows

  require(Rounds * (Merge + Delete) <= Rows, "rounds would run out of initial ids")
  private val salt = s"m${ctx.seed}"

  private val plan: Vector[RoundPlan] = {
    val r = ctx.rng
    // deletes and merges draw from disjoint initial ids, and no key merges
    // twice, so every merge key matches and one salt marks updated rows
    val (toDelete, mergeable) = r.shuffle((0L until Rows).toVector).map(base + _).splitAt(Rounds * Delete)
    val state = mutable.Map.empty[Long, Option[String]]
    var live = Rows
    var appended = 0L
    def pick(first: Long): Seq[Lookup] = {
      val others = Seq.fill(LookupsPerWrite - 1) {
        if (r.nextBoolean()) base + r.nextInt(Rows.toInt) else appendStart + r.nextLong(appended)
      }
      (first +: others).map(id => Lookup(id, state.getOrElse(id, Some(""))))
    }
    Vector.tabulate(Rounds) { k =>
      appended += Append
      val afterAppend = live + Append
      val l1 = pick(appendStart + appended - 1 - r.nextInt(Append))
      val merges = mergeable.slice(k * Merge, (k + 1) * Merge)
      merges.foreach(id => state(id) = Some(salt))
      val l2 = pick(merges.head)
      val deletes = toDelete.slice(k * Delete, (k + 1) * Delete)
      deletes.foreach(id => state(id) = None)
      live = afterAppend - Delete
      val l3 = pick(deletes.head)
      RoundPlan(merges, deletes, Seq(l1, l2, l3), Seq(afterAppend, afterAppend, live))
    }
  }

  private var w: TsTable = _
  private var reader: TsTable = _
  private var stageDir = ""
  private var expected = Map.empty[(String, String), Seq[Int]]
  /** Expected full-scan `tok_sum` after each round. */
  private var expectedSums = Vector.empty[Long]
  private var round = 0
  def table: TsTable = w
  def opKind: String = "round"
  def gatedOps: Int = 3

  private def roundInput(kind: String, k: Int): DataFrame =
    spark.read.parquet(s"$stageDir/$kind/round=$k")

  def stage(dir: String): Unit = {
    import spark.implicits._
    stageDir = dir
    TokenGen.generate(spark, Rows, base, LenSpread, numFiles = InputFiles).write.parquet(s"$dir/input")
    TokenGen.generate(spark, Rounds.toLong * Append, appendStart, LenSpread)
      .withColumn("round", ((substring(col("doc_id"), 5, 12).cast("long") - appendStart) / Append).cast("int"))
      .repartition(4).write.partitionBy("round").parquet(s"$dir/append")
    val mergeRound = plan.zipWithIndex.flatMap { case (p, k) => p.mergeIds.map(id => (docId(id), k)) }
    TokenGen.generateForIds(spark, mergeRound.map(_._1), LenSpread, salt)
      .join(mergeRound.toDF("doc_id", "round"), "doc_id")
      .repartition(4).write.partitionBy("round").parquet(s"$dir/merge")

    val wanted = plan.flatMap(_.lookups.flatten).collect { case Lookup(id, Some(s)) => (s, docId(id)) }
    expected = expectedRows(spark, wanted.groupBy(_._1).map { case (s, v) => s -> v.map(_._2) })
      .map { case (key, (_, tokens)) => key -> tokens }
    expectedSums = fullScanOracle(dir)
  }

  def prepare(dir: String): Unit = {
    w = TsTable.create(s"$dir/table", clusteredMeta)
    w.append(spark.read.parquet(s"$stageDir/input").repartition(InputFiles))
    Compaction.run(spark, w, targetFileSize = dirBytes(s"$stageDir/input") / 4)
    reader = TsTable.open(w.root)
    round = 0
  }

  /** The staged inputs read by plain Spark, replayed through the plan. */
  private def fullScanOracle(dir: String): Vector[Long] = {
    def sums(path: String, cols: String*) = spark.read.parquet(path)
      .select((cols.map(col) :+ expr("tok_sum(tokens)")): _*).collect()
    val cur = mutable.Map.empty[String, Long]
    sums(s"$dir/input", "doc_id").foreach(r => cur(r.getString(0)) = r.getLong(1))
    val appends = sums(s"$dir/append", "round", "doc_id").groupBy(_.getInt(0))
    val merges = sums(s"$dir/merge", "round", "doc_id").groupBy(_.getInt(0))
    var total = cur.values.sum
    plan.indices.map { k =>
      appends(k).foreach { r => cur(r.getString(1)) = r.getLong(2); total += r.getLong(2) }
      merges(k).foreach { r => total += r.getLong(2) - cur(r.getString(1)); cur(r.getString(1)) = r.getLong(2) }
      plan(k).deleteIds.map(docId).foreach { id => total -= cur(id); cur.remove(id) }
      total
    }.toVector
  }

  /** Round 0's writes and reads against a scratch table of a quarter of
    * the input, unchecked (its merge keys are partly absent there). */
  def warm(): Unit = {
    val t = TsTable.create(ctx.dir("warm"), clusteredMeta)
    val r = TsTable.open(t.root)
    def read(): Unit = {
      r.refresh()
      r.scan(spark).where(col("doc_id") === docId(plan(0).mergeIds.head)).collect()
    }
    t.append(spark.read.parquet(s"$stageDir/input").where(col("doc_id") < docId(base + Rows / 4)))
    t.append(roundInput("append", 0))
    read()
    MergeInto.mergeMor(spark, t, roundInput("merge", 0))
    read()
    DeleteWhere.deleteMor(spark, t, col("doc_id").isin(plan(0).deleteIds.map(docId): _*))
    read()
    r.scan(spark).select(sum(expr("tok_sum(tokens)"))).head()
    deleteTree(t.root)
  }

  def step(): Boolean = round < Rounds && {
    val k = round
    round += 1
    val p = plan(k)
    ctx.composite(opKind) {
      val before = w.state.liveSegments.map(_.segmentId).toSet
      ctx.op("append")(ctx.call("table", "table.append")(w.append(roundInput("append", k))))(
        _ => liveRows(w) == p.liveAfter(0))
      observeFooters(ctx, w, before)
      lookups(p.lookups(0))

      val dvBefore = w.state.liveSegments.map(s => s.segmentId -> s.dvPath).toMap
      ctx.op("mor_merge")(ctx.call("maintain", "maintain.mor_merge")(
        MergeInto.mergeMor(spark, w, roundInput("merge", k)))) { r =>
        // MergeInto.Report has no DV count: files whose DV is new or replaced
        ctx.observe("maintain.mor_merge.dv_attached", w.state.liveSegments.count { s =>
          s.dvPath.isDefined && !dvBefore.get(s.segmentId).contains(s.dvPath)
        }.toDouble)
        r.updated == p.mergeIds.size && liveRows(w) == p.liveAfter(1)
      }
      lookups(p.lookups(1))

      ctx.op("mor_delete")(ctx.call("maintain", "maintain.mor_delete")(
        DeleteWhere.deleteMor(spark, w, col("doc_id").isin(p.deleteIds.map(docId): _*)))) { r =>
        ctx.observe("maintain.mor_delete.dv_attached", r.dvAttached.toDouble)
        r.rowsDeleted == Delete && liveRows(w) == p.liveAfter(2)
      }
      lookups(p.lookups(2))

      ctx.op("full_scan") {
        ctx.call("log", "log.refresh")(reader.refresh())
        ctx.call("scan", "scan.full")(
          reader.scan(spark).select(sum(expr("tok_sum(tokens)"))).head().getLong(0))
      }(_ == expectedSums(k))
    }
    true
  }

  private def lookups(ls: Seq[Lookup]): Unit = ls.foreach { l =>
    val id = docId(l.id)
    ctx.op("lookup")(pointLookup(ctx, reader, id)) { got =>
      l.salt match {
        case Some(s) => got.size == 1 && expected.get((s, id)).contains(got.head._2)
        case None => got.isEmpty
      }
    }
    observePruning(ctx, reader, col("doc_id") === id)
  }

  def finish(): Unit = ctx.verify("final count") {
    reader.refresh()
    reader.scan(spark).count() == liveRows(w) &&
      (round == 0 || liveRows(w) == plan(round - 1).liveAfter(2))
  }

  def figures(s: collection.Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    def p50(k: String) = Stats.median(s.getOrElse(k, Seq(Double.NaN)))
    val rounds = s.getOrElse(opKind, Nil)
    lookupFigures(s.getOrElse("lookup", Nil)) ++ Seq(
      ("mor_merge_p50_ms", p50("mor_merge"), "ms"),
      ("mor_delete_p50_ms", p50("mor_delete"), "ms"),
      ("append_p50_ms", p50("append"), "ms"),
      ("full_scan_s", p50("full_scan") / 1000, "s"),
      ("churn_ops_per_s", 3 * rounds.size / (rounds.sum / 1000), "1/s"))
  }
}

object MorChurn {
  /** A point lookup and the salt of the version it must see (None: deleted). */
  private final case class Lookup(id: Long, salt: Option[String])
  /** One round, planned from the seed: the keys it merges and deletes, the
    * lookups after each of its three writes, and the live rows after each. */
  private final case class RoundPlan(mergeIds: Seq[Long], deleteIds: Seq[Long],
                                     lookups: Seq[Seq[Lookup]], liveAfter: Seq[Long])
}
