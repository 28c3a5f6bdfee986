package graft.perfbench

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto}
import graft.table.TsTable
import Common._

/** `maintain_cycle`: per cycle, a fresh z-ordered table goes through
  * ingest (many small files) -> compaction -> copy-on-write MERGE of a 1 %
  * salted update set plus 0.1 % inserts -> copy-on-write DELETE of a
  * contiguous 1 % id range -> expire. The shuffle, encode and candidate
  * selection of `graft.maintain` and `graft.table` dominate; there are few
  * commits and almost no scans. One operation of the loop is one cycle. */
final class MaintainCycle(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  val Rows = 6000L
  val InputFiles = 24
  private val nUpd = Rows / 100
  private val nIns = Rows / 1000
  private val nDel = Rows / 100

  private val base = ctx.rng.nextInt(1000) * 1000000L
  private val updIds = ctx.rng.shuffle((0L until Rows).toVector).take(nUpd.toInt).map(base + _)
  private val insStart = base + Rows
  private val delLo = base + ctx.rng.nextInt((Rows - nDel).toInt)
  private val delHi = delLo + nDel
  private val salt = s"u${ctx.seed}"
  private def deleted(id: Long) = id >= delLo && id < delHi

  /** Sample for the byte-equality check: plain, updated, inserted and deleted ids. */
  private val sampleIds: Seq[Long] = {
    val r = ctx.rng
    Seq.fill(8)(base + r.nextInt(Rows.toInt)) ++ updIds.take(6) ++
      Seq.fill(4)(insStart + r.nextInt(nIns.toInt)) ++ Seq.fill(4)(delLo + r.nextInt(nDel.toInt))
  }.distinct

  private var stageDir = ""
  private var expected = Map.empty[String, (Int, Seq[Int])]
  private var targetFileSize = 0L
  private var cycle = 0
  private var last: TsTable = _
  def table: TsTable = last
  def opKind: String = "cycle"
  def gatedOps: Int = 3

  private def input = spark.read.parquet(s"$stageDir/input")
  private def updates = spark.read.parquet(s"$stageDir/upd")

  def stage(dir: String): Unit = {
    stageDir = dir
    TokenGen.generate(spark, Rows, base, LenSpread, numFiles = InputFiles)
      .write.parquet(s"$dir/input")
    TokenGen.generateForIds(spark, updIds.map(docId), LenSpread, salt)
      .unionByName(TokenGen.generate(spark, nIns, insStart, LenSpread))
      .repartition(4).write.parquet(s"$dir/upd")
    // ~8 output files after compaction, so candidate selection has files to skip
    targetFileSize = dirBytes(s"$dir/input") / 8
    val updSet = updIds.toSet
    val live = sampleIds.filterNot(deleted)
    expected = expectedRows(spark, Map(
      "" -> live.filterNot(updSet).map(docId), salt -> live.filter(updSet).map(docId)))
      .map { case ((_, id), row) => id -> row }
  }

  /** Every cycle starts from an empty table. */
  def prepare(dir: String): Unit = ()

  /** One cycle over the first quarter of the input, unchecked. */
  def warm(): Unit = {
    val t = TsTable.create(ctx.dir("warm"), clusteredMeta)
    val quarter = docId(base + Rows / 4)
    t.append(input.where(col("doc_id") < quarter).repartition(InputFiles / 4))
    Compaction.run(spark, t, targetFileSize = targetFileSize / 4)
    MergeInto.merge(spark, t, updates.where(col("doc_id") < quarter))
    DeleteWhere.delete(spark, t, col("doc_id") >= docId(delLo) && col("doc_id") < docId(delHi))
    Expire.expire(t, t.version)
    deleteTree(t.root)
  }

  def step(): Boolean = {
    cycle += 1
    if (last != null) deleteTree(last.root)
    val t = TsTable.create(ctx.dir(s"cycle-$cycle"), clusteredMeta)
    last = t
    ctx.composite(opKind) {
      val before = t.state.liveSegments.map(_.segmentId).toSet
      ctx.op("ingest")(ctx.call("table", "table.append")(
        t.append(input.repartition(InputFiles))))(_ => liveRows(t) == Rows)
      observeFooters(ctx, t, before)

      ctx.op("compact")(ctx.call("maintain", "maintain.compact")(
        Compaction.run(spark, t, targetFileSize = targetFileSize))) { r =>
        ctx.observe("maintain.compact.files_in", r.filesIn)
        ctx.observe("maintain.compact.files_out", r.filesOut)
        ctx.observe("maintain.compact.bytes_rewritten", r.bytesRewritten.toDouble)
        liveRows(t) == Rows
      }

      val pre = t.state.liveSegments
      if (ctx.traced) {
        // files that really hold an update key, for candidate precision
        val holding = t.scan(spark).select(col("doc_id"), input_file_name().as("file"))
          .join(updates.select("doc_id"), "doc_id").select("file").distinct().count()
        ctx.observe("maintain.merge.files_holding_keys", holding.toDouble)
      }
      ctx.op("merge")(ctx.call("maintain", "maintain.merge")(
        MergeInto.merge(spark, t, updates))) { r =>
        val post = t.state.liveSegments.map(_.segmentId).toSet
        val removed = pre.filterNot(s => post.contains(s.segmentId))
        ctx.observe("maintain.merge.candidates", r.candidates)
        ctx.observe("maintain.merge.candidate_rows", removed.map(_.liveRowCount).sum.toDouble)
        r.updated == nUpd && r.inserted == nIns && liveRows(t) == Rows + nIns
      }

      ctx.op("delete")(ctx.call("maintain", "maintain.delete")(
        DeleteWhere.delete(spark, t, col("doc_id") >= docId(delLo) && col("doc_id") < docId(delHi)))) { r =>
        ctx.observe("maintain.delete.candidates", r.candidates)
        ctx.observe("maintain.delete.files_out", r.filesOut)
        ctx.observe("maintain.delete.rows", r.rowsDeleted.toDouble)
        r.rowsDeleted == nDel && liveRows(t) == Rows + nIns - nDel
      }

      ctx.op("expire")(ctx.call("maintain", "maintain.expire")(
        Expire.expire(t, t.version)))(_ => liveRows(t) == Rows + nIns - nDel)
    }
    ctx.verify("cycle scan") {
      val got = t.scan(spark).where(col("doc_id").isin(sampleIds.map(docId): _*))
        .select("doc_id", "n_tok", "tokens").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
      got == expected && t.scan(spark).count() == Rows + nIns - nDel
    }
    true
  }

  def finish(): Unit = ()

  def figures(s: collection.Map[String, Seq[Double]]): Seq[(String, Double, String)] = Seq(
    ("ingest_rows_per_s", Rows / (Stats.median(s("ingest")) / 1000), "rows/s"),
    ("compact_rows_per_s", Rows / (Stats.median(s("compact")) / 1000), "rows/s"),
    ("merge_s", Stats.median(s("merge")) / 1000, "s"),
    ("delete_s", Stats.median(s("delete")) / 1000, "s"))

  /** Ratios pairing each traced call's Spark cost with its report. */
  override def layerValues(spans: Seq[Span]): Map[String, Double] = {
    val l = ctx.layer
    val merges = Tracer.callCosts(spans, "maintain.merge")
    val deletes = Tracer.callCosts(spans, "maintain.delete")
    def ratios(num: Seq[Double], den: Seq[Double]) =
      num.zip(den).filter(_._2 > 0).map { case (a, b) => a / b }
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "maintain.merge.read_amp" -> medOr0(ratios(merges.map(_.inputRows),
        l.getOrElse("maintain.merge.candidate_rows", Nil).toSeq)),
      "maintain.merge.candidate_precision" -> medOr0(ratios(
        l.getOrElse("maintain.merge.files_holding_keys", Nil).toSeq,
        l.getOrElse("maintain.merge.candidates", Nil).toSeq)),
      "maintain.delete.write_amp" -> medOr0(ratios(deletes.map(_.outputBytes),
        l.getOrElse("maintain.delete.rows", Nil).toSeq)))
  }
}
