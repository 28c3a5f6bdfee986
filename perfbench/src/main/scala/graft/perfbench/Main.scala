package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.ScalingBench
import graft.meta.Json
import graft.table.TsTable

/** Per-layer benchmark entry point:
  *
  * {{{
  * Main --workload maintain_cycle|mor_churn --seed N --seconds S
  *      --trace 0|1 --work DIR --out DIR
  * Main --describe
  * }}}
  *
  * One process, `local[nproc]`, one closed-loop client thread. Set-up
  * stages the seeded inputs, builds the starting table and runs a
  * scaled-down warm pass; `setup_s` is its process CPU time. The loop then
  * runs for S seconds. With `--trace 0` the last stdout line carries
  * the end-to-end metrics; with `--trace 1` the first half runs untraced
  * and the second half traced, the line carries the per-layer metrics plus
  * the tracing overhead, and the spans go to `<out>/spans-<workload>-<seed>.jsonl`.
  * The line before it is context: host probes and the workload's own figures.
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--describe"))) { println(describe()); return }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)

    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftFunctions.register(spark)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val probes = hostProbes(nproc, work)

      val ctx = new Ctx(spark, work, seed)
      val w: Workload = workload match {
        case "maintain_cycle" => new MaintainCycle(ctx)
        case "mor_churn" => new MorChurn(ctx)
        case o => throw new IllegalArgumentException(s"unknown workload $o")
      }

      // setup_s is the set-up's process CPU time, for the same reason as
      // op_cpu_ms (see Metrics.endToEnd); its wall-clock split is context
      val cpu0 = ctx.cpuMs
      val stageS = timeS(w.stage(ctx.dir("stage")))
      val buildS = timeS(w.prepare(ctx.dir("start")))
      val warmS = timeS(w.warm())
      val setupS = (ctx.cpuMs - cpu0) / 1000
      System.err.println(f"[perfbench] set-up $setupS%.1f CPU s; wall: stage $stageS%.1f, build $buildS%.1f, warm $warmS%.1f")
      // set-up ran the workload's operations: start the count afresh
      ctx.attempted = 0; ctx.failed = 0; ctx.samples.clear()

      val start = System.nanoTime()
      val steal0 = procStat()
      // the table after the first operation: its size does not depend on
      // how many operations the window holds
      w.step()
      val stored = Common.storage(w.table).bytesPerRow
      // runs until `untilS` into the window, and at least `minOps` ops
      def loop(untilS: Double, minOps: Int): Unit = {
        val end = start + (untilS * 1e9).toLong
        var n = 0
        var more = true
        while (more && (System.nanoTime() < end || n < minOps)) {
          more = w.step()
          n += 1
        }
      }
      loop(if (trace) seconds / 2 else seconds, w.gatedOps - 1)
      val untraced = ctx.samples.map { case (k, v) => k -> v.toSeq }
      var spans = Seq.empty[Span]
      if (trace) {
        ctx.samples = scala.collection.mutable.LinkedHashMap.empty
        ctx.tracer = Some(new Tracer(spark.sparkContext))
        loop(seconds, 1)
        (1 to 5).foreach(_ => ctx.call("log", "log.open")(TsTable.open(w.table.root)))
        spans = ctx.tracer.get.finish()
      }
      val measuredS = (System.nanoTime() - start) / 1e9
      val steal1 = procStat()
      val samples = ctx.samples.map { case (k, v) => k -> v.toSeq }
      w.finish()
      if (ctx.attempted == 0) throw new IllegalStateException("no operation ran")

      val ops = samples.getOrElse(w.opKind, Nil)
      val metrics: Seq[(Metrics.M, Double)] =
        if (!trace) {
          val values = Map(
            "setup_s" -> setupS,
            "op_cpu_ms" -> Stats.median(samples(s"${w.opKind}.cpu").take(w.gatedOps)),
            "stored_bytes_per_row" -> stored)
          Metrics.endToEnd.map(m => m -> values(m.name))
        } else {
          val before = untraced.getOrElse(w.opKind, Nil)
          val values =
            ctx.layer.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++
              Metrics.fromSpans(spans, ops.size) ++ w.layerValues(spans) ++
              Common.storageValues(w.table) ++ Map(
              "log.commits" -> w.table.version.toDouble,
              "trace.overhead_share" ->
                (if (before.isEmpty || ops.isEmpty) 0.0 else Stats.median(ops) / Stats.median(before) - 1))
          writeSpans(out.resolve(s"spans-$workload-$seed.jsonl"), spans)
          Metrics.perLayer.map(m => m -> values.getOrElse(m.name, 0.0))
        }

      val context = Json.obj()
      val c = context.putObject("context")
      c.put("workload", workload); c.put("seed", seed); c.put("trace", trace)
      c.put("nproc", nproc); c.put("clients", 1); c.put("loop", "closed")
      c.put("session_start_s", sessionS)
      probes.foreach { case (k, v) => c.put(k, v) }
      c.put("setup_wall_s", stageS + buildS + warmS)
      c.put("stage_s", stageS); c.put("build_s", buildS); c.put("warm_s", warmS)
      c.put("staged_bytes", Common.dirBytes(work.resolve("stage").toString))
      c.put("measured_s", measuredS)
      if (steal0.nonEmpty && steal1.nonEmpty)
        c.put("cpu_steal_share", (steal1(7) - steal0(7)) / math.max(steal1.sum - steal0.sum, 1.0))
      c.put("ops", ops.size)
      val ow = c.putArray("op_samples_ms"); ops.foreach(ow.add(_))
      val oc = c.putArray("op_cpu_samples_ms"); samples.getOrElse(s"${w.opKind}.cpu", Nil).foreach(oc.add(_))
      c.put("attempted", ctx.attempted); c.put("failed", ctx.failed)
      c.put("failed_share", Stats.failedShare(ctx.failed, ctx.attempted))
      val figs = context.putObject("figures")
      val figureSamples = if (trace) untraced else samples
      val opWall = figureSamples.getOrElse(w.opKind, Nil)
      if (opWall.nonEmpty)
        (Seq(("op_p50_ms", Stats.median(opWall), "ms"), ("ops_per_s", opWall.size / (opWall.sum / 1000), "1/s")) ++
          w.figures(figureSamples)).foreach { case (n, v, u) =>
          val f = figs.putObject(n); f.put("value", v); f.put("unit", u)
        }
      println(Json.mapper.writeValueAsString(context))

      val result = Json.obj()
      result.put("correct", ctx.failed == 0)
      result.put("attempted", ctx.attempted)
      result.put("failed", ctx.failed)
      val ms = result.putObject("metrics")
      metrics.foreach { case (m, v) =>
        val o = ms.putObject(m.name); o.put("value", v); o.put("unit", m.unit)
      }
      println(Json.mapper.writeValueAsString(result))
    } finally spark.stop()
  }

  /** The host's aggregate CPU tick counters (user ... steal), if readable. */
  private def procStat(): Seq[Double] = scala.util.Try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.split("\\s+").drop(1).take(8).map(_.toDouble).toSeq
  }.getOrElse(Nil)

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Host readings printed as context: all-core arithmetic rate, memcpy
    * bandwidth, and 1 MB-chunk fsync'd write throughput in the work dir.
    * A contended window shows here rather than as an engine regression. */
  private def hostProbes(nproc: Int, work: java.nio.file.Path): Seq[(String, Double)] = {
    ScalingBench.probeRate(nproc, 5000000L)
    val cpu = ScalingBench.probeRate(nproc, 20000000L) / 1e9
    val mem = ScalingBench.memProbe(nproc, nproc)._1
    val f = Files.createTempFile(work, "disk", ".probe")
    val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
    val disk = try {
      val buf = java.nio.ByteBuffer.allocateDirect(1024 * 1024)
      val chunks = 256
      val s0 = System.nanoTime()
      (1 to chunks).foreach { _ => buf.clear(); while (buf.hasRemaining) ch.write(buf) }
      ch.force(false)
      chunks / ((System.nanoTime() - s0) / 1e9)
    } finally { ch.close(); Files.deleteIfExists(f) }
    Seq("cpu_gops" -> cpu, "membw_gbps" -> mem, "disk_fsync_mbps" -> disk)
  }

  private def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      val o = Json.obj()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name); o.put("layer", s.layer)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
      if (s.attrs.nonEmpty) { val a = o.putObject("attrs"); s.attrs.foreach { case (k, v) => a.put(k, v) } }
      Json.mapper.writeValueAsString(o)
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** The `end_to_end` and `per_layer` lists for BENCHMARK.json. */
  def describe(): String = {
    def list(ms: Seq[Metrics.M]) = ms.map { m =>
      s"""{"name": "${m.name}", "unit": "${m.unit}", "better": "${if (m.higherIsBetter) "higher" else "lower"}"}"""
    }.mkString("[\n    ", ",\n    ", "\n  ]")
    s"""{"end_to_end": ${list(Metrics.endToEnd)},\n "per_layer": ${list(Metrics.perLayer)}}"""
  }
}
