package graft.table

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.coverage.Bitmap
import graft.log.{CommitFileExistsException, ConflictException, LogAction, TableState}
import graft.meta.{ColStats, PathNorm, SegmentMeta, TimeIndexSpec}

/** One optimistic transaction — the only way a writer verb commits (the
  * shape of Delta's OptimisticTransaction, on graft's log), and the whole
  * write half of the commit protocol: how files are staged, gated and
  * landed. A verb opens one with [[TsTable.transact]], stages files and
  * declares its changes inside the build closure, and the Txn then commits
  * through its OCC loop ("lock locally, OCC globally"):
  *
  *  - it pins the snapshot the verb read, the base its CHECK re-gate
  *    compares against;
  *  - it writes every file the verb stages — data segments with their
  *    footer stats and coverage sidecars ([[stage]]), change-feed files
  *    ([[stageCdc]]), deletion-vector and coverage sidecars
  *    ([[writeSidecar]]) — registers each, and deletes them itself, outside
  *    the commit lock, when the build or the commit aborts or the batch
  *    turns out to be a replay;
  *  - its conflict set is every segment it removes (an upsert is a remove
  *    plus an add of the same id): each must still be live under the
  *    deletion vector it was read with, else the commit throws
  *    [[ConcurrentSegmentChangeException]]. An optional (app, batch)
  *    [[watermark]] turns a replayed batch into a no-op that reports the
  *    version the watermark already reached;
  *  - staged segments are re-gated when the table's CHECK set changed
  *    since the snapshot, and a time-series table's coverage snapshot is
  *    recomputed in the same commit whenever the commit changes the live
  *    segment set, unless it is data-neutral or carries its own coverage
  *    action;
  *  - fresh segments get their row-id ranges from the snapshot actually
  *    committed over, and the commit lands through the log's
  *    version-guarded write.
  *
  * The handle's `lock` serializes validate + commit among the handle's
  * Txns; cross-process losers rebase-retry with jittered backoff outside
  * it. A Txn that declares nothing commits nothing and reports the current
  * version. Only the creation commits on an empty log (`TsTable.create`,
  * `cloneTo`) write their v1 directly. */
final class Txn private[table] (table: TsTable, lock: AnyRef) {

  /** The snapshot this transaction read. */
  private val snapshot: TableState = table.state
  private val checksRead = checks(snapshot)

  private val files = ArrayBuffer.empty[String]        // root-relative, every staged file
  private val removed = ArrayBuffer.empty[SegmentMeta] // the conflict set, as read
  private val added = ArrayBuffer.empty[SegmentMeta]
  private val staged = ArrayBuffer.empty[SegmentMeta]  // added AND written here: CHECK re-gate
  private val extra = ArrayBuffer.empty[LogAction]
  private var derive: TableState => Seq[LogAction] = _ => Nil
  private var mark: Option[(String, Long)] = None
  private var spark: Option[SparkSession] = None
  private[table] var replayed = false

  /** Write `df` as new segments under data/ (footer stats, coverage
    * sidecars on time-series tables, CHECK-gated) and add them. */
  def stage(df: DataFrame): Seq[SegmentMeta] = stageWithSchemas(df).map(_._1)

  /** [[stage]], also returning each file's embedded Spark schema (None
    * when absent or malformed). Frames arrive under logical names and land
    * under the files' frozen physical names. CHECK constraints gate appends
    * and rewrites alike: the stats fast path clears pass-through rewrites
    * (existing rows were validated at their own write), and it is the only
    * net that can catch an UPDATE whose SET drives rows out of bounds. On
    * time-series tables coverage is built while the files still sit in the
    * staging tree.
    *
    * Zero-row part files (a rewrite partition whose every row was filtered
    * away) are discarded: committing one would create a rowCount=0 segment
    * with no coverage sidecar, which wedges the time-series append
    * precondition forever. An all-empty input stages nothing. */
  private[table] def stageWithSchemas(df: DataFrame): Seq[(SegmentMeta, Option[StructType])] = {
    val session = df.sparkSession
    spark = Some(session)
    val phys = table.toPhysical(df)
    val (written, cov) = writeStaged(phys, Txn.segmentWriteOptions(table.bloomKeyColumn),
        n => s"data/$n") { live =>
      enforceChecks(session, checks(table.state),
        live.map { case (p, fs) => (p, fs.stats, fs.rowCount) })
      table.timeSpec match {
        case Some(spec) if live.nonEmpty =>
          if (!phys.schema.fieldNames.contains(spec.timestampColumn))
            throw SchemaMismatchException(s"time column '${spec.timestampColumn}' missing from appended data")
          computeCoverage(session, live.map(_._1), spec)
        case _ => Map.empty[String, Bitmap]
      }
    }
    val out = written.map { case (src, rel, fs) =>
      val segId = SegmentMeta.segmentIdV1(rel, table.localPath(rel))
      val covRel = cov.get(PathNorm.canonical(src)).map { bm =>
        val r = s"_coverage/segments/segcov-$segId.cov"
        writeSidecar(r, bm.serialize())
        r
      }
      // asNullable: file sources report every field nullable, so the
      // embedded writer schema is normalized identically or adopt-then-
      // enforce would reject a second append whose pipeline produced
      // non-null columns (e.g. generator kernels)
      val schema = fs.sparkSchemaJson.flatMap(j => scala.util.Try(
        org.apache.spark.sql.graft.Bridge.asNullable(
          DataType.fromJson(j).asInstanceOf[StructType])).toOption)
      SegmentMeta(segId, rel, "parquet", fs.rowCount, Some(fs.fileSize), fs.stats, covRel) -> schema
    }
    staged ++= out.map(_._1)
    added ++= out.map(_._1)
    out
  }

  /** Write a change-record DataFrame (logical table columns +
    * `_change_type`) under _cdc/ and carry its AddCdcFile actions in this
    * commit — plain files, without the stats, coverage and CHECK gate of
    * [[stage]] (the feed is not scannable table state). Physical column
    * names on disk, like the data files: the feed reader maps back through
    * the read-time column mapping, so a file written before a RENAME reads
    * under the new name. Encoded like a data segment, without the key bloom
    * (nothing probes the feed by key). */
  def stageCdc(df: DataFrame): Unit =
    extra ++= writeStaged(table.toPhysical(df), Txn.fileWriteOptions, n => s"_cdc/cdc-$n")(_ => ())._1
      .map { case (_, rel, fs) => LogAction.AddCdcFile(rel, fs.rowCount) }

  /** Write a root-relative sidecar file (DV bitmap, coverage) owned by
    * this transaction. */
  def writeSidecar(rel: String, bytes: Array[Byte]): Unit = {
    files += rel // before the file lands, so a half-written file is cleaned too
    Txn.writeBytes(table.localPath(rel), bytes)
  }

  /** Remove segments; each joins the conflict set under the DV it carries. */
  def remove(segs: Seq[SegmentMeta]): Unit = removed ++= segs

  /** Add existing segment metas, e.g. a DV re-attach of a removed segment. */
  def add(segs: Seq[SegmentMeta]): Unit = added ++= segs

  /** Mark the commit logically row-preserving (compaction): change-feed
    * readers skip it and coverage is left as is. */
  def markDataNeutral(): Unit = extra += LogAction.DataNeutral

  /** Commit the (app, batch) watermark; a batch at or below the table's
    * watermark for `app` is a replay and commits nothing. */
  def watermark(m: (String, Long)): Unit = mark = Some(m)

  /** Actions computed from the snapshot actually committed over (re-run on
    * every OCC rebase); throw to abort. */
  def onCommit(f: TableState => Seq[LogAction]): Unit = derive = f

  /** The OCC loop: under the handle's lock, refresh, validate against the
    * snapshot committed over, assemble the actions and land them with the
    * log's version-guarded commit, then publish the committed state to the
    * handle. A retryable race (Conflict/CommitFileExists) sleeps outside
    * the lock and rebases; anything else thrown aborts. */
  private[table] def commit(maxRetries: Int): Long = {
    var attempt = 0
    while (true) {
      val landed: Option[Long] = lock.synchronized {
        table.refresh()
        val st = table.state
        try Some(
          if (mark.exists { case (app, batch) => st.txns.get(app).exists(_ >= batch) }) {
            replayed = true
            st.version
          } else {
            validate(st)
            val actions = removed.map(s => LogAction.RemoveSegment(s.segmentId)).toSeq ++
              added.map(LogAction.AddSegment) ++ derive(st) ++ extra ++
              mark.map { case (app, batch) => LogAction.SetTxn(app, batch) }
            val all = assignRowTracking(st, actions ++ coverageRepair(st, actions))
            if (all.isEmpty) st.version
            else {
              val v = table.store.commitWithExpectedVersion(st.version, all)
              table.publish(all.foldLeft(st)(_ apply _).copy(version = v))
              v
            }
          })
        catch {
          case _: ConflictException | _: CommitFileExistsException if attempt < maxRetries =>
            attempt += 1; None
        }
      }
      landed match {
        case Some(v) => return v
        case None => Thread.sleep(5L + scala.util.Random.nextInt(25 * attempt))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The conflict set still live under the DVs it was read with, and the
    * staged files re-gated when the CHECK set moved since the snapshot. */
  private def validate(st: TableState): Unit = {
    val gone = removed.map(_.segmentId).filterNot(st.segments.contains)
    if (gone.nonEmpty) throw new ConcurrentSegmentChangeException(
      s"swap aborted: segments already rewritten by a concurrent job: ${gone.mkString(", ")}")
    // a concurrent MOR delete keeps the segment id but changes its DV:
    // committing over it would resurrect (rewrite) or drop (DV union)
    // that writer's deletes
    val reDv = removed.filter(s => st.segments(s.segmentId).dvPath != s.dvPath).map(_.segmentId)
    if (reDv.nonEmpty) throw new ConcurrentSegmentChangeException(
      s"swap aborted: segments re-DV'd by a concurrent DELETE/MERGE: ${reDv.mkString(", ")}")
    if (staged.nonEmpty && checks(st) != checksRead)
      spark.foreach(enforceChecks(_, checks(st),
        staged.map(s => (s"${table.root}/${s.path}", s.stats, s.rowCount)).toSeq))
  }

  /** The coverage snapshot of a commit that changes a time-series table's
    * live segment set without carrying its own: the union of the surviving
    * and added segments' sidecars. */
  private def coverageRepair(st: TableState, actions: Seq[LogAction]): Option[LogAction] = {
    val removeIds = actions.collect { case LogAction.RemoveSegment(id) => id }.toSet
    val adds = actions.collect { case LogAction.AddSegment(s) => s }
    val changesLive = removeIds.nonEmpty || adds.exists(s => !st.segments.contains(s.segmentId))
    val ownCoverage = actions.exists {
      case LogAction.DataNeutral | _: LogAction.UpdateTableCoverage => true
      case _ => false
    }
    if (!changesLive || ownCoverage || table.timeSpec.isEmpty) None
    else Some(writeTableCoverage(st, table.coverageUnion(
      st.liveSegments.filterNot(s => removeIds(s.segmentId)) ++ adds)))
  }

  /** Write `cov` as the coverage snapshot of the commit after `st` and
    * return its pointer action. Orphans from lost OCC races age out
    * through expire's sweep. */
  private[table] def writeTableCoverage(st: TableState, cov: Bitmap): LogAction = {
    val covRel = s"_coverage/table/${st.version + 1}-tblcov-${UUID.randomUUID().toString.take(8)}.cov"
    Txn.writeBytes(table.localPath(covRel), cov.serialize())
    LogAction.UpdateTableCoverage(table.timeSpec.get.bucket.spec, covRel)
  }

  /** Row-tracking id allocation — the ONE commit-time hook every writer
    * verb funnels through (append, swap, DV attach, restore, publish,
    * merge). Each AddSegment that carries no baseRowId yet (fresh
    * append/rewrite output) is assigned `[hw, hw + rowCount)` plus
    * `rowVersion = this commit's version`; DV re-attach and RESTORE
    * re-adds COPY their SegmentMeta and thus keep their ranges untouched.
    * The bumped high-water mark rides the SAME commit (reusing the
    * commit's own UpdateTableMeta when it carries one). Runs inside the
    * OCC loop, so a rebase re-assigns from the new snapshot's high water —
    * two racing appends can never mint overlapping id ranges. Pure
    * metadata: no data file is read or written here. */
  private def assignRowTracking(st: TableState, actions: Seq[LogAction]): Seq[LogAction] = {
    // honor the POST-commit flag: the enabling commit backfills its own adds
    val metaIdx = actions.lastIndexWhere(_.isInstanceOf[LogAction.UpdateTableMeta])
    val effMeta =
      if (metaIdx >= 0) actions(metaIdx).asInstanceOf[LogAction.UpdateTableMeta].meta
      else st.tableMeta.orNull
    if (effMeta == null || !effMeta.rowTracking) return actions
    var hw = math.max(effMeta.rowIdHighWater,
      st.tableMeta.map(_.rowIdHighWater).getOrElse(0L))
    val v = st.version + 1
    var assigned = false
    val out = actions.map {
      case LogAction.AddSegment(s) if s.baseRowId.isEmpty =>
        val b = hw; hw += s.rowCount; assigned = true
        LogAction.AddSegment(s.copy(baseRowId = Some(b), rowVersion = Some(v)))
      case a => a
    }
    if (!assigned) return actions
    val newMeta = effMeta.copy(rowIdHighWater = hw)
    if (metaIdx >= 0) out.updated(metaIdx, LogAction.UpdateTableMeta(newMeta))
    else out :+ LogAction.UpdateTableMeta(newMeta)
  }

  /** Delete every registered file (abort or replay). */
  private[table] def discard(): Unit =
    files.foreach(rel => Files.deleteIfExists(table.localPath(rel)))

  private def checks(st: TableState): Seq[(String, String)] =
    st.tableMeta.map(_.checks).getOrElse(Nil)

  /** THE Parquet write of table, maintenance and streaming code: write `df`
    * with `options` under a fresh `.staging-*` tree, run `inStaging` over
    * its non-empty part files (absolute staged paths + footer stats), then
    * move them to `dest(<commitId>-<i>.parquet)` (root-relative),
    * registering each first. Returns (staged path, relative path, stats)
    * per file and `inStaging`'s result. The liveness beacon keeps the
    * staging tree's mtime fresh until the move, so Expire's crashed-writer
    * reclamation never races a live writer. */
  private def writeStaged[T](df: DataFrame, options: Map[String, String], dest: String => String)
                            (inStaging: Seq[(String, FooterStats.FileStats)] => T)
      : (Seq[(String, String, FooterStats.FileStats)], T) = {
    val commitId = UUID.randomUUID().toString.take(8)
    val stagingAbs = s"${table.root}/.staging-$commitId"
    val stagingDir = Paths.get(PathNorm.stripFileScheme(stagingAbs))
    val heartbeat = StagingHeartbeat.start(stagingAbs)
    try {
      df.write.options(options).mode("overwrite").parquet(stagingAbs)
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val parts = {
        import scala.jdk.CollectionConverters._
        val s = Files.list(stagingDir)
        try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        finally s.close()
      }
      val live = FooterStats.readAll(conf, parts).filter(_._2.rowCount > 0)
      val result = inStaging(live)
      val moved = live.zipWithIndex.map { case ((src, fs), i) =>
        val rel = dest(f"$commitId-$i%05d.parquet")
        files += rel
        Files.createDirectories(table.localPath(rel).getParent)
        Files.move(Paths.get(PathNorm.stripFileScheme(src)), table.localPath(rel))
        (src, rel, fs)
      }
      (moved, result)
    } finally {
      // stop (join) the beacon before deleting its tree: a touch racing
      // the recursive delete could recreate .heartbeat mid-walk. A tree
      // that will not delete (failed write) is left to Expire
      heartbeat.stop()
      try PathNorm.deleteTree(stagingDir)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Enforce CHECK constraints `cs` over freshly staged files. Stats fast
    * path, sound by the Tri algebra's one reliable direction: eval(NOT
    * check) == AlwaysFalse over a file's footer stats means NO row makes
    * the predicate FALSE (TRUE or NULL both pass, per SQL CHECK), so the
    * file skips the row-level scan — on appends of clean data with tight
    * stats this costs driver arithmetic only. Files the stats can't clear
    * get ONE filtered count over just those files. */
  private def enforceChecks(session: SparkSession, cs: Seq[(String, String)],
                            paths: Seq[(String, Map[String, ColStats], Long)]): Unit =
    if (cs.nonEmpty && paths.nonEmpty) {
      // the staged files as stats-only segments; a file is cleared when
      // NOT check is provably false over its stats
      val segs = paths.map { case (p, stats, rc) => SegmentMeta(p, p, "parquet", rc, None, stats, None) }
      cs.foreach { case (name, sql) =>
        val cond = expr(sql)
        val suspects = table.statsCandidates(session, segs, not(cond))._1
        if (suspects.nonEmpty) {
          val bad = table.toLogical(session.read.parquet(suspects.map(_.path): _*))
            .where(not(cond) === lit(true)).count()
          if (bad > 0) throw CheckViolationException(name, sql, bad)
        }
      }
    }

  /** Per-file coverage bitmaps — ONE distributed job that never ships raw
    * (file, bucket) rows to the driver: each partition folds its rows into
    * per-file distinct-bucket sets and emits them as serialized partial
    * bitmaps; partials merge by file via union (the Spark form of the
    * reference's rayon partial-bitmap merge, coverage.rs:324-352), so the
    * driver receives exactly one run-length bitmap per staged file, keyed
    * by its canonical path (input_file_name yields "file:///abs/x" while
    * staging paths can be relative, e.g. a CLI `--table ./events` root). */
  private def computeCoverage(session: SparkSession, paths: Seq[String],
                              spec: TimeIndexSpec): Map[String, Bitmap] = {
    import session.implicits._
    val job = session.read.parquet(paths: _*)
      // null timestamps carry NO coverage (reference flatten,
      // coverage.rs:179-246). The filter must run on the COLUMN: inside
      // the bucket expression greatest() SKIPS nulls, so a null ts would
      // otherwise clamp to bucket 0 and falsely claim epoch coverage
      // (and collide two unrelated appends that both hold a null row)
      .where(col(spec.timestampColumn).isNotNull)
      .select(input_file_name().as("f"), Txn.bucketOf(spec).as("b"))
      // dedup FIRST through Spark's hash aggregate — map-side partial,
      // Tungsten-managed, spillable. Folding raw rows straight into
      // per-task sets would pin unbounded unspillable heap on exactly the
      // fine-bucket wide-range shape this path exists for; after distinct
      // each partition holds only unique (file, bucket) pairs, so a plain
      // buffer per file suffices (no per-row set membership checks).
      .distinct()
      .as[(String, Long)]
      .mapPartitions { it =>
        val perFile = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Int]]
        it.foreach { case (f, b) =>
          if (b > Int.MaxValue) throw BucketDomainOverflowException(b)
          perFile.getOrElseUpdate(f, ArrayBuffer.empty) += b.toInt
        }
        perFile.iterator.map { case (f, s) => (f, Bitmap(s).serialize()) }
      }
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        (f, it.foldLeft(Bitmap.empty)((acc, p) => acc.union(Bitmap.deserialize(p._2))).serialize())
      }
    // surface the typed overflow error the way the driver-side build did,
    // not buried as the cause of a generic SparkException
    val partials =
      try job.collect()
      catch {
        case e: Exception =>
          var c: Throwable = e
          while (c != null && !c.isInstanceOf[BucketDomainOverflowException]) c = c.getCause
          if (c != null) throw c else throw e
      }
    partials.map { case (f, bytes) => PathNorm.canonical(f) -> Bitmap.deserialize(bytes) }.toMap
  }
}

object Txn {
  /** What a transaction's build returned, the version it committed (or the
    * version already current when it had nothing to commit or replayed),
    * and whether its watermark marked it a replay. */
  final case class Done[A](value: A, version: Long, replayed: Boolean)

  /** The time bucket of a row: floorDiv(epoch seconds, bucket length) with
    * a pre-epoch clamp to 0, matching BucketMath and the reference's
    * release-mode clamp (bucket.rs:66-75); integer `div` truncation is
    * floor on the clamped non-negative domain. The CAST handles
    * TIMESTAMP_NTZ columns (the session time zone is UTC, so it is
    * value-preserving). A null timestamp yields a null bucket. Staging
    * builds coverage with it and the MOR passes recompute it. */
  private[graft] def bucketOf(spec: TimeIndexSpec): Column =
    expr(s"greatest(unix_micros(CAST(`${spec.timestampColumn}` AS TIMESTAMP)), 0L) " +
      s"div ${1000000L * spec.bucket.lengthSeconds}L")

  /** Parquet row-group size of every file a table writes. The parquet
    * default (128 MB) gives a compacted 64 MB file ONE row group, and
    * Spark's scan can only assign a row group to the split holding its
    * midpoint — a compacted table scanned with 6/32 cores (measured:
    * full-scan 0.71 s → 0.33 s at bench scale, restoring parity with the
    * pre-compaction layout). Scale-independent: intra-file parallelism at
    * ANY cluster size (a 512 MB production file gets 64 independently
    * scannable groups); cost measured +1 % file bytes. */
  private val RowGroupBytes: Long = 8L * 1024 * 1024

  /** Codec, row-group size and encoding of every file a table writes:
    * data segments ([[segmentWriteOptions]], which add the key bloom and
    * say why) and change-feed files. */
  private val fileWriteOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.block.size" -> RowGroupBytes.toString,
    "parquet.enable.dictionary" -> "false",
    "parquet.writer.version" -> "v2")

  /** Adaptive key-bloom candidates from parquet's maximum filter size down
    * to its 32-byte block floor, halving each step: log2(1 MiB / 32) + 1 =
    * 16. */
  private val BloomCandidates: Int = {
    import org.apache.parquet.column.ParquetProperties.DEFAULT_MAX_BLOOM_FILTER_BYTES
    import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter.LOWER_BOUND_BYTES
    Integer.numberOfTrailingZeros(DEFAULT_MAX_BLOOM_FILTER_BYTES / LOWER_BOUND_BYTES) + 1
  }

  /** Parquet write options for data segments: a column bloom filter on the
    * table's identity key (`bloomKey`, the last cluster column — doc_id in
    * the token layout). Space-curve clustering interleaves the key bits, so
    * per-file [min,max] stops pruning MERGE candidates; the bloom answers
    * "can key k be in this file" from footer metadata alone (KeyBloom). The
    * filter is adaptive: parquet builds candidate filters by halving from
    * the maximum size (1 MiB) and keeps the smallest that holds the file's
    * distinct keys at the 1 % false-positive rate. Parquet's default of 5
    * candidates stops at 64 KiB, more than a 50-row MERGE image's data;
    * [[BloomCandidates]] reaches down to the 32-byte block floor, so each
    * bloom is sized to its file's keys (1 KiB for 50 rows, 8 KiB for 4,000;
    * parquet drops candidates too small for 500 keys).
    *
    * The other options:
    *  - zstd: interleaved warm A/B vs snappy on the token payload measured
    *    equal-or-faster encode at equal size in every window (and ~2×
    *    faster in disk-pressured windows — fewer dirty bytes to write
    *    back); better ratio on text/doc payloads generally.
    *  - 8 MB row groups ([[RowGroupBytes]]).
    *  - no dictionary, v2 pages ([[fileWriteOptions]]): integer
    *    leaves (the `tokens` elements, `n_tok`) are DELTA_BINARY_PACKED
    *    and strings DELTA_BYTE_ARRAY. Parquet keeps a column chunk's
    *    dictionary whenever the dictionary-encoded data is smaller than
    *    the *uncompressed* plain data and never compares it with the
    *    zstd'd alternative. On a small file the token column's dictionary
    *    (up to 50,257 ids) is about as large as the data it encodes;
    *    building it, falling back from it and writing its page took about
    *    44 % of the parquet write tasks' CPU in a 1 ms JFR profile of
    *    perfbench `maintain_cycle` (4-core host). A writer probe on that
    *    host, 6,000 TokenGen rows (`lenSpread` 449) with zstd and the
    *    doc_id bloom, median of 5 runs, dictionary + v1 → no dictionary +
    *    v2:
    *
    * {{{
    *   rows per file           write CPU (ms)   bytes per row
    *   250                     2,660 → 2,360    731.7 → 645.4
    *   750                     1,690 → 1,340    749.8 → 639.2
    *   3,000                   1,130 →   930    624.8 → 636.5 (+1.9 %)
    *   10k-40k, full groups                     about 591 → 636 (+7.6 %)
    * }}}
    *
    *    A dictionary is per column chunk, so a file that fills 8 MiB row
    *    groups (about 40 times the token vocabulary per chunk) would be
    *    smaller with it: the last row. Every file is still written without
    *    one. No measured workload writes such files (every perfbench write
    *    stays below a row group), and choosing per write needs a bytes-per-
    *    file figure the writers do not have reliably (the optimizer sizes a
    *    generated append at about 28 B/row against about 2 KB written). */
  private[graft] def segmentWriteOptions(bloomKey: Option[String]): Map[String, String] =
    fileWriteOptions ++ bloomKey.fold(Map.empty[String, String])(key => Map(
      s"parquet.bloom.filter.enabled#$key" -> "true",
      "parquet.bloom.filter.adaptive.enabled" -> "true",
      s"parquet.bloom.filter.candidates.number#$key" -> BloomCandidates.toString))

  private def writeBytes(p: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
}
