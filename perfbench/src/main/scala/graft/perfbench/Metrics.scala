package graft.perfbench

/** The metrics a run reports: name, unit, and whether higher is better.
  * `BENCHMARK.json` lists the same names (`Main --describe` prints them). */
object Metrics {

  final case class M(name: String, unit: String, higherIsBetter: Boolean = false)

  /** Gated on every workload; none of them is ever 0. An "op" is one
    * maintenance cycle (maintain_cycle) or one round of three writes, their
    * lookups and a full scan (mor_churn); `op_cpu_ms` is the median over
    * the workload's first `gatedOps` ops. Set-up and op costs are process
    * CPU time: on a shared VM the hypervisor steals CPU in some windows,
    * which stretches wall time far more than CPU time, so wall-clock
    * figures are printed as context next to the measured steal share. */
  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("op_cpu_ms", "ms"),
    M("stored_bytes_per_row", "B/row"))

  /** Per-call fields for each traced module call, medians over calls. */
  val callFields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "driver_ms" -> "ms", "jobs" -> "count", "task_ms" -> "ms",
    "input_rows" -> "count", "shuffle_write_bytes" -> "B", "output_bytes" -> "B", "spill_bytes" -> "B")

  /** Maintenance verbs, each traced as span `maintain.<verb>`. */
  val verbs: Seq[String] = Seq("compact", "merge", "delete", "mor_merge", "mor_delete", "expire")

  val layers: Seq[String] = Seq("log", "scan", "table", "maintain")

  val perLayer: Seq[M] = Seq(
    M("log.refresh_ms", "ms"), M("log.commits", "count"), M("log.open_ms", "ms"),
    M("scan.plan_ms", "ms"), M("scan.prune_ms", "ms"), M("scan.files_read_ratio", "ratio"),
    M("scan.file_precision", "ratio", higherIsBetter = true), M("scan.lookup_input_rows", "count"),
    M("scan.full.tasks", "count"), M("scan.full.task_ms", "ms"), M("scan.full.input_rows", "count"),
    M("table.footer_ms", "ms"), M("table.live_files", "count"), M("table.dv_files", "count"),
    M("table.live_bytes", "B"), M("table.dv_bytes", "B")) ++
    callFields.map { case (f, u) => M(s"table.append.$f", u) } ++
    verbs.flatMap(v => callFields.map { case (f, u) => M(s"maintain.$v.$f", u) }) ++
    Seq(M("maintain.compact.files_in", "count"), M("maintain.compact.files_out", "count"),
      M("maintain.compact.bytes_rewritten", "B"),
      M("maintain.merge.candidates", "count"), M("maintain.merge.read_amp", "ratio"),
      M("maintain.merge.candidate_precision", "ratio", higherIsBetter = true),
      M("maintain.delete.candidates", "count"), M("maintain.delete.files_out", "count"),
      M("maintain.delete.write_amp", "B/row"),
      M("maintain.mor_merge.dv_attached", "count"), M("maintain.mor_delete.dv_attached", "count")) ++
    layers.map(l => M(s"$l.self_ms_per_op", "ms")) :+
    M("trace.overhead_share", "ratio")

  /** Per-layer values derived from the traced spans. */
  def fromSpans(spans: Seq[Span], ops: Int): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def call(name: String) = Tracer.callCosts(spans, name)
    def fields(prefix: String, spanName: String): Map[String, Double] = {
      val cs = call(spanName)
      Map(s"$prefix.wall_ms" -> med(cs.map(_.wallMs)), s"$prefix.driver_ms" -> med(cs.map(_.driverMs)),
        s"$prefix.jobs" -> med(cs.map(_.jobs)), s"$prefix.task_ms" -> med(cs.map(_.taskMs)),
        s"$prefix.input_rows" -> med(cs.map(_.inputRows)),
        s"$prefix.shuffle_write_bytes" -> med(cs.map(_.shuffleWriteBytes)),
        s"$prefix.output_bytes" -> med(cs.map(_.outputBytes)), s"$prefix.spill_bytes" -> med(cs.map(_.spillBytes)))
    }
    val self = Tracer.selfTimes(spans)
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val full = call("scan.full")
    fields("table.append", "table.append") ++ verbs.flatMap(v => fields(s"maintain.$v", s"maintain.$v")) ++
      layers.map(l => s"$l.self_ms_per_op" -> selfByLayer.getOrElse(l, 0.0) / math.max(ops, 1)) ++
      Map(
        "log.refresh_ms" -> med(call("log.refresh").map(_.wallMs)),
        "log.open_ms" -> med(call("log.open").map(_.wallMs)),
        "scan.plan_ms" -> med(call("scan.plan").map(_.wallMs)),
        "scan.prune_ms" -> med(call("scan.prune").map(_.wallMs)),
        "scan.lookup_input_rows" -> med(call("scan.execute").map(_.inputRows)),
        "scan.full.tasks" -> med(full.map(_.tasks)),
        "scan.full.task_ms" -> med(full.map(_.taskMs)),
        "scan.full.input_rows" -> med(full.map(_.inputRows)),
        "table.footer_ms" -> med(call("table.footer").map(_.wallMs)))
  }
}
