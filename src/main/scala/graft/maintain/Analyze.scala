package graft.maintain

import graft.meta.{ColStats, SegmentMeta, StatVal}
import graft.table.TsTable

/** ANALYZE — manifest-only table health report (the "do I need
  * maintenance?" verb; Iceberg/Delta expose the same numbers through
  * files-metadata tables). Everything here is driver-side arithmetic
  * over the segment manifest: NO data file is opened, so analyzing a
  * 100 TB / 10^5-file table costs what a metadata page costs.
  *
  * Reported signals and why they matter at scale:
  *  - small-file count vs a target size → compaction debt (scan task
  *    fan-out, footer overhead, scheduler pressure);
  *  - deletion-vector debt (masked rows / physical rows) → every scan of
  *    a grazed file pays the DV conjunct until compaction materializes
  *    it away;
  *  - per-cluster-column overlap: for each file, how many OTHER files'
  *    [min,max] ranges intersect it (computed O(n log n) by binary
  *    search over sorted endpoint arrays). avgOverlap ≈ 0 means a point
  *    predicate on that column prunes to ~1 file; avgOverlap ≈ n means
  *    stats cannot prune at all — on the LAST curve column that is the
  *    expected interleaving cost of Z-order, on the FIRST it means the
  *    table has lost its clustering and wants a re-cluster pass.
  */
object Analyze {

  final case class ColumnClustering(column: String, filesWithStats: Int,
                                    avgOverlap: Double, maxOverlap: Int)

  final case class Report(files: Int, physicalRows: Long, liveRows: Long,
                          bytes: Long, smallFiles: Int, dvFiles: Int,
                          dvDebtRows: Long, dvDebtRatio: Double,
                          clustering: Seq[ColumnClustering],
                          recommendCompaction: Boolean, reasons: Seq[String]) {
    def render: String = {
      val c = clustering.map(c =>
        f"    ${c.column}%-12s files=${c.filesWithStats} avgOverlap=${c.avgOverlap}%.1f max=${c.maxOverlap}")
        .mkString("\n")
      f"""files=$files rows=$physicalRows live=$liveRows bytes=$bytes
         |small=$smallFiles dvFiles=$dvFiles dvDebt=$dvDebtRows (${dvDebtRatio * 100}%.2f%%)
         |clustering:
         |$c
         |recommendCompaction=$recommendCompaction${if (reasons.nonEmpty) reasons.mkString(" [", "; ", "]") else ""}""".stripMargin
    }
  }

  /** Stats order: the one footers use (`StatVal.cmp`, unsigned UTF-8 for
    * strings); incomparable types are never less (no false overlap claims). */
  private def lt(a: StatVal, b: StatVal): Boolean = StatVal.cmp(a, b).exists(_ < 0)

  /** files whose [min,max] on `column` intersect each file's range,
    * excluding itself: overlaps(i) = n - |{j: min_j > max_i}| -
    * |{j: max_j < min_i}| - 1, by binary search over the sorted
    * endpoint arrays. */
  private[graft] def overlapStats(column: String,
                                     segs: Seq[SegmentMeta]): Option[ColumnClustering] = {
    val ranges = segs.flatMap(_.stats.get(column) match {
      case Some(ColStats(Some(mn), Some(mx), _)) => Some((mn, mx))
      case _ => None
    })
    if (ranges.isEmpty) return None
    val mins = ranges.map(_._1).sortWith(lt)
    val maxs = ranges.map(_._2).sortWith(lt)
    val n = ranges.length
    def countGt(sorted: Seq[StatVal], x: StatVal): Int = { // |{v: v > x}|
      var lo = 0; var hi = n
      while (lo < hi) { val m = (lo + hi) >>> 1; if (lt(x, sorted(m))) hi = m else lo = m + 1 }
      n - lo
    }
    def countLt(sorted: Seq[StatVal], x: StatVal): Int = { // |{v: v < x}|
      var lo = 0; var hi = n
      while (lo < hi) { val m = (lo + hi) >>> 1; if (lt(sorted(m), x)) lo = m + 1 else hi = m }
      lo
    }
    val overlaps = ranges.map { case (mn, mx) =>
      n - countGt(mins, mx) - countLt(maxs, mn) - 1
    }
    Some(ColumnClustering(column, n,
      overlaps.sum.toDouble / n, if (overlaps.isEmpty) 0 else overlaps.max))
  }

  def analyze(table: TsTable, targetFileSize: Long = 512L * 1024 * 1024): Report = {
    table.refresh()
    val live = table.state.liveSegments
    val files = live.size
    val physicalRows = live.map(_.rowCount).sum
    val liveRows = live.map(_.liveRowCount).sum
    val bytes = live.flatMap(_.fileSize).sum
    val small = live.count(Compaction.isSmall(_, targetFileSize))
    val dvFiles = live.count(_.dvPath.isDefined)
    val dvDebt = live.map(_.dvCardinality).sum
    val dvRatio = if (physicalRows == 0) 0.0 else dvDebt.toDouble / physicalRows

    val cols: Seq[String] = table.clusterSpec.map(_.columns)
      .orElse(table.timeSpec.map(s => Seq(s.timestampColumn)))
      .getOrElse(Nil)
    val clustering = cols.flatMap(c => overlapStats(c, live))

    val reasons = Seq(
      if (files > 1 && small > files / 2) Some(s"$small/$files files below 90% of target") else None,
      if (dvRatio > 0.05) Some(f"DV debt ${dvRatio * 100}%.1f%% of rows") else None,
      if (dvFiles > 0 && dvFiles == files) Some("every file carries a deletion vector") else None
    ).flatten
    Report(files, physicalRows, liveRows, bytes, small, dvFiles, dvDebt, dvRatio,
      clustering, reasons.nonEmpty, reasons)
  }
}
