package graft.maintain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions._
import graft.coverage.Bitmap
import graft.meta.{PathNorm, SegmentMeta}
import graft.scan.StatsPruning
import graft.table.{BucketDomainOverflowException, DeletionVectors, TsTable, Txn}

/** DELETE WHERE — predicate delete, the training-data governance operator
  * (redact contaminated documents, strip a source, drop a time range). Not
  * in the reference (its log is append-only); north-rule addition
  * alongside compaction/MERGE/expire. Two execution modes:
  *
  *  - [[delete]] — copy-on-write: grazed files are rewritten without the
  *    matching rows. Read-optimal (scans stay pure parquet) but the
  *    rewrite cost is proportional to the BYTES of every grazed file.
  *  - [[deleteMor]] — merge-on-read: grazed files get a deletion-vector
  *    sidecar (a position bitmap, [[graft.table.DeletionVectors]]) and
  *    their bytes never move. Delete cost is proportional to the MATCHED
  *    ROWS (tiny bitmaps + one column-pruned scan of the candidates); the
  *    scan pays one codegen'd conjunct until compaction materializes the
  *    DV away. At 100 TB this is the difference between a 1 % delete
  *    writing KBs and it copying ~1 TB.
  *
  * Both modes share the same plan shape at scale:
  *  1. Candidate files via the same 3-valued stats evaluation the scan
  *     uses: a file whose stats prove AlwaysFalse for the predicate
  *     cannot hold a matching row and is left untouched (its bytes and
  *     segment id never change). Conservative by construction — padded/
  *     widened transform rewrites only ever ADD candidates. AlwaysTrue is
  *     deliberately NOT used to drop whole files unread: the Tri algebra
  *     is necessary-condition-oriented under padded rewrites, so "all
  *     rows must match" cannot be concluded from it.
  *  2. SQL DELETE semantics: rows where the predicate is NULL are KEPT.
  *  3. One atomic commit (snapshot isolation, OCC rebase). A file whose
  *     every live row matches is dropped metadata-only in both modes.
  *  4. Time-series tables get coverage recomputed in the SAME commit, so
  *     a later append into the deleted range is not falsely rejected.
  */
object DeleteWhere {

  final case class Report(candidates: Int, filesKept: Int, filesOut: Int,
                          rowsDeleted: Long, survivors: Long, version: Long,
                          filesDroppedMetaOnly: Int = 0,
                          dvAttached: Int = 0)

  /** Resolve the user predicate against the table schema (stats evaluation
    * needs real AttributeReferences; an unresolved Column evaluates
    * Unknown everywhere — sound, but pruning-free), reject nondeterminism,
    * and split live segments into (resolved conjuncts, candidates,
    * untouched). Shared by both modes (and by UPDATE WHERE). */
  private[maintain] def resolveAndPrune(spark: SparkSession, table: TsTable, condition: Column)
      : (Seq[Expression], Seq[SegmentMeta], Seq[SegmentMeta]) = {
    val live = table.state.liveSegments
    val resolved: Seq[Expression] = {
      import org.apache.spark.sql.graft.Bridge
      val analyzed = table.scan(spark).where(condition).queryExecution.analyzed
      analyzed.collectFirst { case f: LFilter => f.condition }
        .map(splitConjuncts).getOrElse(Seq(Bridge.toExpr(condition)))
    }
    // DELETE evaluates the predicate in independent jobs and drops whole
    // files on the first evaluation's word — a nondeterministic condition
    // (rand(), now()-derived exprs via the CLI's --where) could delete a
    // row set no single evaluation ever selected. Reject up front, like
    // Delta-style engines do.
    require(resolved.forall(_.deterministic),
      "DELETE WHERE requires a deterministic predicate; " +
        s"got: ${resolved.filterNot(_.deterministic).mkString(", ")}")
    val (candidates, untouched) = live.partition { seg =>
      // a file is a candidate unless SOME conjunct is provably false for
      // every row (conjunction semantics: one false conjunct kills it);
      // logicalStats: the predicate names are logical, the sidecar keys
      // physical (identity unless a column was renamed)
      !resolved.exists(c =>
        StatsPruning.eval(c, table.logicalStats(seg), seg.rowCount) == StatsPruning.AlwaysFalse)
    }
    (resolved, candidates, untouched)
  }

  /** Per-file MATCH counts over LIVE rows in one pass over the
    * candidates, partitioned into (matched-per-canonical-path, hit files,
    * clean files): stats are only necessary conditions, so a candidate
    * can hold zero matching rows — such files keep their bytes and
    * segment ids. Both sides of the attribution compare through
    * PathNorm.canonical, so trailing-slash or relative table roots line
    * up with input_file_name()'s URI form; an unattributable matched file
    * (exotic path scheme) falls back to treating ALL candidates as hit —
    * sound, just less surgical. Shared by DELETE and UPDATE. */
  private[maintain] def matchCounts(spark: SparkSession, table: TsTable,
                                    candidates: Seq[SegmentMeta], matchesCond: Column)
      : (Map[String, Long], Seq[SegmentMeta], Seq[SegmentMeta]) = {
    // toLogical: the user predicate names logical columns; the segment
    // read is physical (identity unless a column was renamed)
    val base = table.toLogical(table.segmentScan(spark, candidates))
    val matchedPerFile: Map[String, Long] =
      DeletionVectors.liveRowFilter(table.root, candidates).map(base.where).getOrElse(base)
        .where(matchesCond)
        .groupBy(input_file_name().as("f")).count()
        .collect().map(r => PathNorm.canonical(r.getString(0)) -> r.getLong(1)).toMap
    var (hit, clean) = candidates.partition(seg =>
      matchedPerFile.contains(PathNorm.canonical(PathNorm.resolve(table.root, seg.path))))
    val attributed = candidates
      .map(seg => PathNorm.canonical(PathNorm.resolve(table.root, seg.path))).toSet
    if (matchedPerFile.keys.exists(!attributed(_))) { hit = candidates; clean = Nil }
    (matchedPerFile, hit, clean)
  }

  /** Copy-on-write DELETE (see object doc). DV-aware: candidates that
    * already carry a deletion vector are read live-rows-only, and their
    * rewrite output materializes the old DV away. */
  def delete(spark: SparkSession, table: TsTable, condition: Column): Report = {
    table.refresh()
    val live = table.state.liveSegments
    val (_, candidates, untouched) = resolveAndPrune(spark, table, condition)
    val totalLive = live.map(_.liveRowCount).sum
    if (candidates.isEmpty)
      return Report(0, live.size, 0, 0L, totalLive, table.version)

    val keep = !coalesce(condition, lit(false)) // NULL predicate -> keep
    val matchesCond = coalesce(condition, lit(false)) // rows that DELETE removes

    def liveRows(df: DataFrame, segs: Seq[SegmentMeta]): DataFrame =
      DeletionVectors.liveRowFilter(table.root, segs).map(df.where).getOrElse(df)
    val (matchedPerFile, hit, cleanCandidates) =
      matchCounts(spark, table, candidates, matchesCond)
    val rowsDeleted = matchedPerFile.values.sum
    if (rowsDeleted == 0L)
      return Report(candidates.size, live.size, 0, 0L, totalLive, table.version)

    // per-file degenerate handling: a hit file whose match count equals
    // its LIVE row count has NO survivors — drop it metadata-only (one
    // Remove action) instead of pushing its bytes through the rewrite
    // job. On a curve-clustered table a range DELETE typically
    // fully-matches a few files and grazes the rest; rewriting only the
    // grazed ones is the difference between touching the deleted range
    // and rewriting the table (round-2 finding). Fully-matched and
    // partially-matched files still swap in ONE atomic commit.
    val (fullyMatched, partial) = hit.partition(seg =>
      // getOrElse: on the fallback path `hit` includes unattributed files
      // with no recorded matches — those must be rewritten, not dropped
      matchedPerFile.getOrElse(
        PathNorm.canonical(PathNorm.resolve(table.root, seg.path)), 0L) == seg.liveRowCount)

    // one Txn: the removal of every hit file (its conflict set — the
    // commit aborts if ANY of them was concurrently rewritten or re-DV'd),
    // the partials' rewrite, the change feed and, on time-series tables,
    // the coverage recommit all land in ONE commit
    val done = table.transact() { tx =>
      // change feed: the deleted rows (one extra matched-rows read of the
      // hit files, paid only when the feed is on). Row tracking: records
      // carry the deleted row's `_row_id`.
      if (table.cdfEnabled)
        tx.stageCdc(liveRows(table.toLogical(cdcScanOf(spark, table, hit)), hit)
          .where(matchesCond).withColumn("_change_type", lit("delete")))
      tx.remove(hit)
      if (partial.isEmpty) Nil
      else {
        // row tracking: survivors keep their ids — the partial rewrite
        // reads ids attached and materializes them into the new files
        // (`_row_commit` keeps its old value too: surviving rows were
        // NOT modified by this delete)
        val partialScan =
          if (table.rowTrackingEnabled) table.segmentScanWithRowIds(spark, partial)
          else table.segmentScan(spark, partial)
        tx.stage(liveRows(table.toLogical(partialScan), partial).where(keep))
      }
    }

    Report(candidates.size, untouched.size + cleanCandidates.size, done.value.size,
      rowsDeleted, totalLive - rowsDeleted, done.version, fullyMatched.size)
  }

  /** Merge-on-read DELETE (see object doc): ONE column-pruned pass over
    * the candidate files computes, per file, the new deleted-position
    * bitmap AND the survivors' coverage buckets (time-series tables) —
    * positions arrive ascending within each scan split, partials merge by
    * file, and the driver receives one run-length bitmap per grazed file
    * (the same O(files × runs) driver bound as the coverage builder; no
    * row ever collects). Grazed files are re-committed with
    * dvPath/dvCardinality (and a fresh coverage sidecar); files whose
    * every live row matched are dropped metadata-only. */
  def deleteMor(spark: SparkSession, table: TsTable, condition: Column): Report = {
    table.refresh()
    val live = table.state.liveSegments
    val (_, candidates, untouched) = resolveAndPrune(spark, table, condition)
    val totalLive = live.map(_.liveRowCount).sum
    if (candidates.isEmpty)
      return Report(0, live.size, 0, 0L, totalLive, table.version)

    val matchesCond = coalesce(condition, lit(false)) // NULL predicate -> keep
    val base = morBase(spark, table, candidates)(raw =>
      raw.select(
        col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__i"),
        matchesCond.as("__m"),
        bucketExpr(table).as("__b")))
    morAttach(spark, table, candidates, untouched.size, totalLive, base,
      changeRows = Some(() => {
        val raw = table.toLogical(cdcScanOf(spark, table, candidates))
        DeletionVectors.liveRowFilter(table.root, candidates)
          .map(raw.where).getOrElse(raw).where(matchesCond)
      }))
  }

  /** Change-record scan of `segs`: plain physical read, or — when the
    * table tracks rows — the id-attached read minus `_row_commit` (the
    * record pins the change's version itself; only the row's identity
    * travels). Shared by every CDC-staging verb. */
  private[maintain] def cdcScanOf(spark: SparkSession, table: TsTable,
                                  segs: Seq[SegmentMeta]): DataFrame =
    if (table.rowTrackingEnabled)
      table.segmentScanWithRowIds(spark, segs)
        .drop(graft.table.RowTracking.RowCommitCol)
    else table.segmentScan(spark, segs)

  /** Bucket id of a row for the coverage recompute — same arithmetic as
    * the coverage builder (pre-epoch clamp, floor-div on the non-negative
    * domain); null ts -> null bucket, which carries no coverage. Constant
    * null for non-time-series tables. */
  private[maintain] def bucketExpr(table: TsTable): Column = table.timeSpec match {
    case Some(spec) =>
      val len = spec.bucket.lengthSeconds
      expr(s"greatest(unix_micros(CAST(`${spec.timestampColumn}` AS TIMESTAMP)), 0L) " +
        s"div ${1000000L * len}L")
    case None => lit(null).cast("long")
  }

  /** Candidate read for a MOR pass: `project` maps the raw candidate scan
    * to the (__f, __i, __m, __b) shape, and candidates already carrying a
    * DV are then read live-rows-only, so new positions never overlap the
    * existing bitmap and survivor coverage is exact by construction. */
  private[maintain] def morBase(spark: SparkSession, table: TsTable,
                                candidates: Seq[SegmentMeta])
                               (project: DataFrame => DataFrame): DataFrame = {
    // toLogical: `project` carries user predicates / merge keys under
    // logical names (identity unless a column was renamed); _metadata
    // still resolves through the alias projection
    val base0 = project(table.toLogical(table.segmentScan(spark, candidates)))
    DeletionVectors.predicate(table.root, candidates, col("__f"), col("__i"))
      .map(base0.where).getOrElse(base0)
  }

  /** The driver-side outcome of a MOR matched-row pass, already declared
    * on its [[graft.table.Txn]]: the DV upserts, the fully-matched
    * removals, and the matched-row count. */
  private[maintain] final case class MorPlan(
      upserts: Seq[SegmentMeta], removeIds: Seq[String], rowsMatched: Long)

  /** Shared MOR tail (predicate and keyed deletes): aggregate `base`
    * — columns (__f file, __i position, __m matched, __b survivor bucket),
    * already live-row-filtered — into one DV bitmap + one survivor
    * coverage bitmap per grazed file, write the sidecars, and commit the
    * attach atomically (see object doc for the scale shape). */
  private[maintain] def morAttach(spark: SparkSession, table: TsTable,
                                  candidates: Seq[SegmentMeta], untouchedCount: Int,
                                  totalLive: Long, base: DataFrame,
                                  changeRows: Option[() => DataFrame] = None): Report = {
    val done = table.transact() { tx =>
      morCompute(spark, table, tx, candidates, base).map { plan =>
        // change feed: the caller's deleted-rows thunk (one extra
        // matched-rows read of the candidates), staged only when the feed
        // is on and something actually matched
        if (table.cdfEnabled)
          changeRows.foreach(rows => tx.stageCdc(rows().withColumn("_change_type", lit("delete"))))
        plan
      }
    }
    done.value match {
      case None =>
        Report(candidates.size, untouchedCount + candidates.size, 0, 0L, totalLive, done.version)
      case Some(plan) =>
        val grazedCount = plan.upserts.size + plan.removeIds.size
        Report(candidates.size, untouchedCount + (candidates.size - grazedCount), 0,
          plan.rowsMatched, totalLive - plan.rowsMatched, done.version,
          filesDroppedMetaOnly = plan.removeIds.size, dvAttached = plan.upserts.size)
    }
  }

  /** The distributed half of a MOR pass: aggregate `base` into per-file
    * bitmaps, write DV (and survivor-coverage) sidecars through `tx`, and
    * declare the DV upserts and fully-matched removals on it WITHOUT
    * committing — [[morAttach]] commits them alone, [[MergeInto.mergeMor]]
    * atomically with the appended replacement segments. None = no row
    * matched. Each grazed file joins `tx`'s conflict set under the DV it
    * was read with, so the commit aborts if a concurrent writer rewrote or
    * re-DV'd it (its bitmap was unioned against that DV). */
  private[maintain] def morCompute(spark: SparkSession, table: TsTable, tx: Txn,
                                   candidates: Seq[SegmentMeta],
                                   base: DataFrame): Option[MorPlan] = {
    import spark.implicits._
    // (file, dvPartial, covPartial, matches): one emit per (split, file)
    val perFile = base.as[(String, Long, Boolean, Option[Long])]
      .mapPartitions { it =>
        val dv = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        val cov = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashSet[Int]]
        val matches = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (f, i, m, b) =>
          if (m) {
            if (i > DeletionVectors.MaxRowsPerFile)
              throw new IllegalStateException(
                s"row position $i exceeds the DV position domain in $f")
            dv.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer.empty) += i.toInt
            matches.update(f, matches.getOrElse(f, 0L) + 1L)
          } else b.foreach { bb =>
            if (bb > Int.MaxValue) throw BucketDomainOverflowException(bb)
            cov.getOrElseUpdate(f, scala.collection.mutable.HashSet.empty) += bb.toInt
          }
        }
        (dv.keySet ++ cov.keySet).iterator.map { f =>
          (f,
            dv.get(f).map(ps => Bitmap(ps).serialize()).orNull,
            cov.get(f).map(bs => Bitmap(bs).serialize()).orNull,
            matches.getOrElse(f, 0L))
        }
      }
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        var dvB = Bitmap.empty; var covB = Bitmap.empty; var m = 0L
        it.foreach { case (_, d, c, mm) =>
          if (d != null) dvB = dvB.union(Bitmap.deserialize(d))
          if (c != null) covB = covB.union(Bitmap.deserialize(c))
          m += mm
        }
        (f, dvB.serialize(), covB.serialize(), m)
      }
      .collect()

    val grazed = perFile.filter(_._4 > 0L)
    if (grazed.isEmpty) return None

    val segByCanon = candidates
      .map(s => PathNorm.canonical(PathNorm.resolve(table.root, s.path)) -> s).toMap
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val repairCov = table.timeSpec.isDefined
    val removeIds = scala.collection.mutable.ArrayBuffer.empty[String]
    val upserts = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]
    var rowsMatched = 0L
    grazed.foreach { case (f, dvBytes, covBytes, m) =>
      val seg = segByCanon.getOrElse(PathNorm.canonical(f),
        throw new IllegalStateException(
          s"cannot attribute $f to a candidate segment (exotic path scheme?); " +
            "use the copy-on-write path for this table"))
      rowsMatched += m
      val newDv = Bitmap.deserialize(dvBytes)
      val union = seg.dvPath
        .map(p => DeletionVectors.readDv(PathNorm.resolve(table.root, p)).union(newDv))
        .getOrElse(newDv)
      tx.remove(Seq(seg))
      if (union.cardinality == seg.rowCount) removeIds += seg.segmentId
      else {
        val dvRel = s"_dv/dv-${seg.segmentId}-$commitId.dv"
        tx.writeSidecar(dvRel, union.serialize())
        val covRel =
          if (repairCov) {
            val rel = s"_coverage/segments/segcov-${seg.segmentId}-$commitId.cov"
            tx.writeSidecar(rel, covBytes)
            Some(rel)
          } else seg.coveragePath
        upserts += seg.copy(dvPath = Some(dvRel), dvCardinality = union.cardinality,
          coveragePath = covRel)
      }
    }
    tx.add(upserts.toSeq)
    Some(MorPlan(upserts.toSeq, removeIds.toSeq, rowsMatched))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
