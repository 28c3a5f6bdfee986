package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.scan.StatsPruning
import graft.table.{FooterStats, TsTable}

/** State one benchmark process shares with its workload: the session, the
  * seeded generator, latency samples, per-layer observations and the
  * correctness tally. One client thread drives everything. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  val rng = new scala.util.Random(seed)
  var tracer: Option[Tracer] = None
  def traced: Boolean = tracer.isDefined

  /** A call into an engine module: a span when tracing, a plain call otherwise. */
  def call[A](layer: String, name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(layer, name)(f)
    case None => f
  }

  /** Latency samples (ms) by operation kind, and process CPU time (ms)
    * under `<kind>.cpu`, for the current phase. */
  var samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Per-layer observations; recorded only while tracing. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def observe(name: String, v: Double): Unit =
    if (traced) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  var attempted = 0L
  var failed = 0L
  private var compositeMs = 0.0
  private var compositeCpuMs = 0.0
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (driver, executor threads, GC). */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** One checked operation: `run` is timed and sampled under `kind`, then
    * `verify` checks its result untimed. An exception or a false verdict
    * counts the operation as failed. */
  def op[A](kind: String)(run: => A)(verify: A => Boolean): Unit = {
    attempted += 1
    val c0 = cpuMs
    val t0 = System.nanoTime()
    val res = Try(run)
    val ms = (System.nanoTime() - t0) / 1e6
    val cpu = cpuMs - c0
    res match {
      case Success(a) =>
        sample(kind, ms)
        sample(s"$kind.cpu", cpu)
        compositeMs += ms
        compositeCpuMs += cpu
        Try(verify(a)) match {
          case Success(true) =>
          case Success(false) => fail(kind, "wrong result")
          case Failure(e) => fail(kind, s"verification threw $e")
        }
      case Failure(e) => fail(kind, e.toString)
    }
  }

  /** A check that is not itself a timed operation (end-of-cycle scans). */
  def verify(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    Try(ok) match {
      case Success(true) =>
      case Success(false) => fail(what, "wrong result")
      case Failure(e) => fail(what, s"threw $e")
    }
  }

  private def fail(kind: String, why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $kind: $why")
  }

  /** Records the summed latency and CPU time of the operations run by `f`
    * as one sample of `kind` (a maintenance cycle, a churn round). */
  def composite(kind: String)(f: => Unit): Unit = {
    compositeMs = 0.0
    compositeCpuMs = 0.0
    f
    sample(kind, compositeMs)
    sample(s"$kind.cpu", compositeCpuMs)
  }

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** One workload. `stage` writes its seeded inputs, `prepare` builds its
  * starting state and `warm` runs a scaled-down pass; `step` runs one
  * operation of the closed loop (sampled under `opKind`); `finish` checks
  * the end state. */
abstract class Workload(val ctx: Ctx) {
  def opKind: String
  /** Ops every run completes and the gated op cost is taken over. The
    * workloads are not stationary (the first cycles are still warming;
    * mor_churn's fourth and fifth rounds cost about twice the CPU of the
    * first three), so each run gates on the same operations whatever else
    * its window holds. */
  def gatedOps: Int
  def stage(dir: String): Unit
  def prepare(dir: String): Unit
  def warm(): Unit
  /** Runs one operation; false once the workload has nothing left to run. */
  def step(): Boolean
  def finish(): Unit
  /** The table whose size `stored_bytes_per_row` reports. */
  def table: TsTable
  /** This workload's own end-to-end figures (name -> (value, unit)). */
  def figures(s: collection.Map[String, Seq[Double]]): Seq[(String, Double, String)]
  /** Per-layer values that come from the workload rather than from spans. */
  def layerValues(spans: Seq[Span]): Map[String, Double] = Map.empty
}

/** Helpers the workloads share. */
object Common {

  /** n_tok in [64, 512]: a quarter of TokenGen's canonical token volume,
    * since generating token arrays dominates staging time. */
  val LenSpread = 449

  def docId(id: Long): String = f"doc-$id%012d"

  val clusteredMeta: graft.meta.TableMeta = {
    import graft.meta._
    TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)
  }

  def liveRows(t: TsTable): Long = t.state.liveSegments.map(_.liveRowCount).sum

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }
  }

  /** Live-table storage: data file bytes, DV sidecar bytes, file counts. */
  final case class Storage(liveFiles: Int, dvFiles: Int, liveBytes: Long, dvBytes: Long, liveRows: Long) {
    def bytesPerRow: Double = (liveBytes + dvBytes).toDouble / math.max(liveRows, 1L)
  }
  def storage(t: TsTable): Storage = {
    val segs = t.state.liveSegments
    val dvs = segs.flatMap(_.dvPath).distinct
    Storage(segs.size, segs.count(_.dvPath.isDefined), segs.flatMap(_.fileSize).sum,
      dvs.map(p => Files.size(java.nio.file.Paths.get(t.root, p))).sum, segs.map(_.liveRowCount).sum)
  }

  def storageValues(t: TsTable): Map[String, Double] = {
    val s = storage(t)
    Map("table.live_files" -> s.liveFiles.toDouble, "table.dv_files" -> s.dvFiles.toDouble,
      "table.live_bytes" -> s.liveBytes.toDouble, "table.dv_bytes" -> s.dvBytes.toDouble)
  }

  /** Expected (n_tok, tokens) per (salt, doc_id) from TokenGen's pure
    * functions, one Spark job for all salts. */
  def expectedRows(spark: SparkSession, bySalt: Map[String, Seq[String]]): Map[(String, String), (Int, Seq[Int])] = {
    val parts = bySalt.toSeq.filter(_._2.nonEmpty).map { case (salt, ids) =>
      TokenGen.generateForIds(spark, ids.distinct, LenSpread, salt)
        .select(lit(salt).as("salt"), col("doc_id"), col("n_tok"), col("tokens"))
    }
    if (parts.isEmpty) Map.empty
    else parts.reduce(_ unionByName _).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2), r.getSeq[Int](3))).toMap
  }

  /** Lookup latency as the median and the highest percentile with at
    * least ten samples beyond it, with the sample count. */
  def lookupFigures(ms: Seq[Double]): Seq[(String, Double, String)] =
    if (ms.isEmpty) Nil
    else {
      val tail = Stats.supportedPercentile(ms.size, Seq(90.0, 75.0)).toSeq.map { p =>
        (f"lookup_p${p}%.0f_ms", Stats.percentile(ms, p), "ms")
      }
      Seq(("lookup_p50_ms", Stats.median(ms), "ms")) ++ tail :+ (("lookups", ms.size.toDouble, "count"))
    }

  /** Point lookup through `reader`: refresh, plan, execute. Returns the
    * matching rows as doc_id -> tokens. */
  def pointLookup(ctx: Ctx, reader: TsTable, id: String): Seq[(String, Seq[Int])] = {
    ctx.call("log", "log.refresh")(reader.refresh())
    val df = ctx.call("scan", "scan.plan") {
      val d = reader.scan(ctx.spark).where(col("doc_id") === id)
      d.queryExecution.executedPlan
      d
    }
    ctx.call("scan", "scan.execute")(
      df.select("doc_id", "tokens").collect().toSeq.map(r => r.getString(0) -> r.getSeq[Int](1)))
  }

  /** Traced-only: direct stats pruning of the lookup's filters over the
    * live segments, and the share of kept files that hold a result row. */
  def observePruning(ctx: Ctx, reader: TsTable, cond: Column): Unit = if (ctx.traced) {
    val df = reader.scan(ctx.spark).where(cond)
    val filters = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .flatMap(conjuncts)
    val live = reader.state.liveSegments
    val kept = ctx.call("scan", "scan.prune")(StatsPruning.pruneSegments(live, filters))
    ctx.observe("scan.files_read_ratio", kept.size.toDouble / math.max(live.size, 1))
    val hit = df.select(input_file_name()).distinct().count()
    ctx.observe("scan.file_precision", hit.toDouble / math.max(kept.size, 1))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Traced-only: footer stats of the files an append added. */
  def observeFooters(ctx: Ctx, t: TsTable, before: Set[String]): Unit = if (ctx.traced) {
    val added = t.state.liveSegments.filterNot(s => before.contains(s.segmentId))
      .map(s => java.nio.file.Paths.get(t.root, s.path).toString)
    if (added.nonEmpty) {
      val conf = ctx.spark.sparkContext.hadoopConfiguration
      ctx.call("table", "table.footer")(FooterStats.readAll(conf, added))
    }
  }
}
