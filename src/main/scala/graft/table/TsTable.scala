package graft.table

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.coverage.{Bitmap, BucketMath}
import graft.log._
import graft.meta._
import graft.scan.{FilePruning, TsFileIndex}

/** The table handle: transaction log + replayed state, the reads, the
  * pruning entry and the metadata verbs. Spark-native rebuild of the
  * reference's `TimeSeriesTable` (crates/timeseries-table-core/src/table.rs:53-57).
  *
  * Every write goes through one [[Txn]] ([[transact]]), which owns the
  * commit protocol: staging, CHECK gating, coverage snapshots, row-id
  * allocation and the OCC loop. The handle keeps what its Txns share: the
  * cached state, [[refresh]], the in-JVM commit lock and the monotonic
  * [[publish]] of a committed state.
  *
  * Metadata (log replay, coverage bitmaps, commits) is driver-side and
  * O(files); every data-plane operation (stats, coverage construction,
  * rewrite, scan) is a distributed Spark job. Readers are snapshot-isolated:
  * `scan` captures CURRENT once and then touches only immutable files.
  */
final class TsTable private (val root: String, val store: LogStore) {

  @volatile private var cachedState: TableState = TableState.rebuild(store)

  /** Serializes the validate + commit section of this handle's [[Txn]]s —
    * the in-JVM half of the Delta-style "lock locally, OCC globally" commit
    * discipline: in-JVM writers (e.g. 4 concurrent compaction bins + an
    * append + a MOR delete on one handle) serialize instead of burning each
    * other's OCC retry budgets on pure self-races. */
  private val commitLock = new Object

  def state: TableState = cachedState
  def version: Long = cachedState.version

  /** Advance the cached state to `st` unless a newer one is already
    * visible: a slow writer's post-commit publish, or a refresh that
    * rebuilt an older version, never regresses the snapshot readers see. */
  private[table] def publish(st: TableState): Unit = synchronized {
    if (st.version > cachedState.version) cachedState = st
  }

  /** Reload state only if CURRENT advanced (reference table.rs:205-251). */
  def refresh(): Boolean = {
    val cur = store.currentVersion()
    if (cur != cachedState.version) { publish(TableState.rebuildAt(store, cur)); true }
    else false
  }

  def meta: TableMeta = cachedState.tableMeta.getOrElse(
    throw CorruptLogException("table has no metadata"))

  def timeSpec: Option[TimeIndexSpec] = meta.kind match {
    case TableKind.TimeSeries(s) => Some(s)
    case _ => None
  }
  def clusterSpec: Option[ClusterSpec] = meta.kind match {
    case TableKind.Clustered(s) => Some(s)
    case _ => None
  }

  /** Run one [[Txn]]: `build` stages files and declares the commit, then
    * the Txn commits through its OCC loop under this handle's commit lock.
    * Any failure in `build` or the commit, and a replayed watermark,
    * deletes every file the Txn staged. */
  private[graft] def transact[A](maxRetries: Int = 3)(build: Txn => A): Txn.Done[A] = {
    val tx = new Txn(this, commitLock)
    try {
      val value = build(tx)
      val v = tx.commit(maxRetries)
      if (tx.replayed) tx.discard()
      Txn.Done(value, v, tx.replayed)
    } catch { case e: Throwable => tx.discard(); throw e }
  }

  // ---------------------------------------------------------------- scan

  /** DataFrame over the current snapshot via our manifest-backed FileIndex:
    * file pruning from per-file stats + Spark's native vectorized Parquet
    * scan (reference R1, ts_table_provider.rs:240-295). */
  def scan(spark: SparkSession): DataFrame = read(spark, cachedState)

  /** Time travel: scan the table as of a pinned version. */
  def scanAt(spark: SparkSession, version: Long): DataFrame =
    read(spark, TableState.rebuildAt(store, version))

  /** Structured Streaming tail of this table: initial snapshot, then each
    * append commit as a micro-batch (graft.streaming.TableStreamSource —
    * the Spark-native form of the reference's sql_stream_reader.rs). */
  def readStream(spark: SparkSession, options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("graft-table").options(options).load(root)

  /** One row per commit (newest first): version, timestamp, action
    * counts, and a derived operation label — the audit/debug view of the
    * transaction log (DESCRIBE HISTORY analog). Driver-side metadata only:
    * commit JSONs are KBs; rows are materialized via createDataFrame. */
  def history(spark: SparkSession, limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val cur = store.currentVersion()
    // snapshot expiration drops commit files below its checkpoint;
    // history covers what the log still holds
    val rows = store.commits(math.max(store.earliestRetained(), cur - limit + 1), cur)
      .reverseIterator.map { c =>
      val adds = c.adds.size
      val removes = c.actions.count(_.isInstanceOf[LogAction.RemoveSegment])
      // a DV attach re-adds the SAME segment ids it removes (upsert); a
      // compaction/merge swap always adds fresh ids
      val removedIds = c.actions.collect { case LogAction.RemoveSegment(id) => id }.toSet
      val dvUpsert = adds > 0 && removes > 0 && c.adds.forall(s => removedIds.contains(s.segmentId))
      val meta = c.actions.exists(_.isInstanceOf[LogAction.UpdateTableMeta])
      val cov = c.actions.exists(_.isInstanceOf[LogAction.UpdateTableCoverage])
      val txn = c.actions.collectFirst { case LogAction.SetTxn(app, b) => s"$app#$b" }
      val rowsAdded = c.adds.map(_.rowCount).sum
      val op =
        if (dvUpsert) "DELETE (DV)"                       // merge-on-read delete
        else if (adds > 0 && removes > 0) "REWRITE"       // compaction/merge/delete swap
        else if (removes > 0) "DELETE"                    // metadata-only removal
        else if (adds > 0 && txn.isDefined) "STREAMING APPEND"
        else if (adds > 0) "APPEND"
        else if (meta && c.version == 1L) "CREATE"
        else if (cov) "COVERAGE"
        else "METADATA"
      (c.version, new java.sql.Timestamp(c.timestampMillis), op, adds, removes, rowsAdded,
        meta, cov, txn.orNull)
    }.toSeq
    rows.toDF("version", "timestamp", "operation", "files_added", "files_removed",
      "rows_added", "meta_updated", "coverage_updated", "txn")
  }

  /** One row per live data file — the Iceberg `files` / Delta DESCRIBE
    * DETAIL metadata table, manifest-only (no filesystem or data IO, so
    * it costs the same on a 100 TB table as on a test fixture). Column
    * stats surface as `stats[col] -> (min, max, null_count)` in canonical
    * string form (exact for longs/strings/bools; Double.toString for
    * doubles), ready for SQL over the table's own layout: small-file
    * histograms, clustering drift, DV debt. */
  def files(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def render(v: StatVal): String = v match {
      case StatVal.L(x) => x.toString
      case StatVal.D(x) => x.toString
      case StatVal.S(x) => x
      case StatVal.B(x) => x.toString
    }
    refresh()
    // stats sidecars are keyed by physical name; surface LOGICAL names
    // (identity for never-renamed tables)
    val inv = colMap.map(_.swap)
    cachedState.liveSegments.map { s =>
      (s.segmentId, s.path, s.format, s.rowCount, s.liveRowCount,
        s.fileSize.getOrElse(-1L), s.dvPath.orNull, s.dvCardinality,
        s.coveragePath.orNull,
        s.stats.map { case (c0, cs) =>
          val c = inv.getOrElse(c0, c0)
          c -> Map(
            "min" -> cs.min.map(render).orNull,
            "max" -> cs.max.map(render).orNull,
            "null_count" -> cs.nullCount.toString)
        })
    }.toDF("segment_id", "path", "format", "row_count", "live_rows",
      "size_bytes", "dv_path", "dv_cardinality", "coverage_path", "stats")
  }

  /** Named refs — tags and branches — as one DataFrame (Iceberg `refs`
    * metadata table): tags pin base == head; a branch spans its fork
    * point to its current head. Driver-side metadata only. */
  def refs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    refresh()
    val tagRows = tags.toSeq.sortBy(_._1).map { case (n, v) => (n, "tag", v, v) }
    val brRows = branches.map { n =>
      val bl = BranchLog.open(store.tableRoot, n)
      (n, "branch", bl.base, bl.currentVersion())
    }
    (tagRows ++ brRows).toDF("name", "type", "base_version", "head_version")
  }

  /** THE segment reader: how a set of committed segments becomes rows.
    * Every scan, maintenance read, change feed and stream batch goes
    * through it (the single integration point of the reference,
    * ts_table_provider.rs:240-295), so it alone decides:
    *
    *  - schema: pinned to `meta`'s manifest schema, never footer-inferred.
    *    After an ADD COLUMN the live set mixes old- and new-footer files,
    *    and a footer-inferred read can adopt an OLD file's schema (silently
    *    dropping the evolved column from a rewrite); pinning NULL-fills it
    *    on old files instead. The footer is read only when no schema has
    *    been adopted yet.
    *  - planning: a manifest-backed [[TsFileIndex]] relation, so stats
    *    pruning applies and no listing or schema-inference job runs.
    *  - row ids (`ids`): `_row_id`/`_row_commit` bound from `_metadata`
    *    before any deletion-vector mask, since positions are physical.
    *  - deletion vectors (`live`): the snapshot splits into two relations
    *    so only the DV'd files pay the per-row filter — the clean ones scan
    *    exactly as a DV-free table (no `_metadata` columns, no lookup call,
    *    full whole-stage codegen), and Catalyst pushes query filters and
    *    column pruning through the union into both branches. A union is
    *    planned only when both kinds exist. `live = false` returns one
    *    unfiltered relation with `_metadata` reachable, for the passes that
    *    mask positions themselves.
    *  - names: LOGICAL out. Files keep their frozen physical names (RENAME
    *    COLUMN); one alias projection on top restores the logical view, and
    *    filters and column pruning push through it (identity for
    *    never-renamed tables). Writes map back in [[Txn.stage]].
    *  - empty sets: a relation over zero files, of the declared schema. */
  private[graft] def read(spark: SparkSession, segs: Seq[SegmentMeta], meta: Option[TableMeta],
                          ids: Boolean = false, live: Boolean = true): DataFrame = {
    val logical = meta.flatMap(_.schema).getOrElse(
      segs.headOption.fold(new StructType())(s => spark.read.parquet(abs(s)).schema))
    val idCols = if (ids) Seq(RowTracking.RowIdCol, RowTracking.RowCommitCol) else Nil
    val schema = StructType(meta.fold(logical)(_.physicalize(logical)).fields ++
      idCols.map(StructField(_, LongType)))
    def bound(ss: Seq[SegmentMeta]) = {
      val rel = spark.baseRelationToDataFrame(relationFor(spark, ss, schema))
      if (ids) RowTracking.attach(rel, root, ss) else rel
    }
    val (dvSegs, clean) = segs.partition(_.dvPath.isDefined)
    val rows =
      if (!live || dvSegs.isEmpty) bound(segs)
      else {
        val masked = bound(dvSegs).where(DeletionVectors.liveRowFilter(root, dvSegs).get)
        if (clean.isEmpty) masked else bound(clean).unionByName(masked)
      }
    val cmap = meta.fold(Map.empty[String, String])(_.colMap)
    if (cmap.isEmpty) rows
    else rows.select((logical.fieldNames.toSeq.map(n => col(cmap.getOrElse(n, n)).as(n)) ++
      idCols.map(col)): _*)
  }

  /** [[read]] of a snapshot's live rows. */
  private[graft] def read(spark: SparkSession, st: TableState): DataFrame =
    read(spark, st.liveSegments, st.tableMeta)

  /** The manifest-backed BaseRelation for a snapshot (None before a schema
    * is adopted) — the batch half of the "graft-table" data source, so
    * `spark.read.format("graft-table").load(root)` and SQL
    * `CREATE TEMPORARY VIEW t USING graft-table OPTIONS (path '…')` scan
    * through the same pruned FileIndex as `TsTable.scan`. A bare
    * BaseRelation has no projection hook, so the provider refuses DV'd and
    * renamed snapshots, whose [[read]] is not a single relation. */
  private[graft] def relationAt(spark: SparkSession, st: TableState): Option[HadoopFsRelation] =
    read(spark, st).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.schema.nonEmpty => l.relation.asInstanceOf[HadoopFsRelation]
    }

  private def relationFor(spark: SparkSession, segs: Seq[SegmentMeta],
                          schema: StructType): HadoopFsRelation = {
    val index = new TsFileIndex(spark, new HPath(root), segs, schema, bloomKeyColumn)
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** Native range scan (reference R16, table/scan.rs:311-354): half-open
    * [startMicros, endMicros) on the time column; file pruning via stats,
    * row filtering by Spark (null timestamps drop, matching the reference's
    * null⇒false mask, scan.rs:149-157). */
  def scanRange(spark: SparkSession, startMicros: Long, endMicros: Long): DataFrame = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val ts = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table")).timestampColumn
    val df = scan(spark)
    // literal typed to the column (TIMESTAMP vs TIMESTAMP_NTZ) so the
    // comparison stays cast-free on the column side and the predicate
    // pushes down to the parquet row groups
    val isNtz = df.schema.fields.find(_.name == ts)
      .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
    def l(us: Long): Column =
      if (isNtz) lit(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L),
        java.time.ZoneOffset.UTC))
      else lit(microsToTs(us))
    df.where(col(ts) >= l(startMicros) && col(ts) < l(endMicros))
  }

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Manifest path → scannable path: root-relative for the table's own
    * files, passthrough for a shallow clone's absolute source references. */
  private def abs(seg: SegmentMeta): String = graft.meta.PathNorm.resolve(root, seg.path)

  /** The column KeyBloom pruning can test, when blooms are being written
    * (physical name). */
  private[graft] def bloomKeyColumn: Option[String] = cachedState.tableMeta.flatMap(_.kind match {
    case TableKind.Clustered(s) => s.columns.lastOption
    case _                      => None
  })

  // -------------------------------------------------------------- append

  /** Append a DataFrame as one or more new immutable segments — the 9-step
    * pipeline of the reference (table/append.rs:92-350), Spark-first:
    * the data plane (write, stats, coverage, identity) runs as Spark jobs
    * and footer reads; only the commit is driver file IO. OCC with rebase
    * retry on version conflicts. Returns the committed version.
    *
    * `txn = Some((appId, batchId))` makes the append idempotent per
    * application: the (appId, batchId) watermark commits atomically with
    * the AddSegments (LogAction.SetTxn), and an append whose batchId is ≤
    * the table's watermark for that appId is skipped — including on the
    * OCC rebase path, so a crashed-and-replayed streaming batch can never
    * double-land even if the first attempt's commit won a race. The data
    * is staged by the same routine as every rewrite ([[Txn.stage]]) inside
    * one [[Txn]], which deletes the staged files on any rejection (schema,
    * identity, coverage overlap, CHECK) or replay. */
  def append(df: DataFrame, maxRetries: Int = 3,
             txn: Option[(String, Long)] = None): Long = {
    // cheap pre-check: skip the data write entirely when the batch is
    // already in the table (the authoritative check re-runs inside commit)
    txn.foreach { case (app, batch) =>
      refresh()
      if (cachedState.txns.get(app).exists(_ >= batch)) return cachedState.version
    }
    // Appended data arrives under LOGICAL names and is staged under the
    // frozen physical names (identity unless renamed). The rename is
    // by-name, so a stale writer still using a PHYSICAL (pre-rename)
    // column name would pass through it unchanged and land — gate the
    // logical view by name FIRST (types/order enforce at commit)
    if (colMap.nonEmpty) {
      val logicalNames = cachedState.tableMeta.flatMap(_.schema)
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      val off = df.columns.filterNot(logicalNames.contains)
      if (off.nonEmpty)
        throw SchemaMismatchException(
          s"append columns ${off.mkString(", ")} are not in the table's logical schema " +
            s"(renamed columns must use their CURRENT names: ${colMap.keys.mkString(", ")})")
    }
    val spark = df.sparkSession
    transact(maxRetries) { tx =>
      // an empty input stages nothing and commits nothing — except a
      // streaming batch's watermark, so replays of the empty batch stay
      // idempotent and the sinks need no pre-flight isEmpty job
      txn.foreach(tx.watermark)
      val staged = tx.stageWithSchemas(df)
      if (staged.nonEmpty) {
        val segs = staged.map(_._1)
        // canonical on-disk schema (reference adopts from the Parquet
        // footer, append.rs:130-151): Spark embeds the writer's StructType
        // in every file's footer, already read for stats — no schema job
        // unless the staged files disagree or carry none (foreign files)
        val diskSchema = TsTable.footerSchema(staged.map(_._2))
          .getOrElse(spark.read.parquet(segs.map(abs): _*).schema)
        val identity = timeSpec.flatMap(extractEntityIdentity(spark, segs, _))
        val appendCov = timeSpec.map(_ => coverageUnion(segs))
        tx.onCommit(st => appendActions(tx, st, segs, diskSchema, identity, appendCov))
      }
    }.version
  }

  /** The append's snapshot-dependent actions, re-derived on every OCC
    * rebase: schema adopt-or-enforce, entity identity pin-or-enforce and
    * the coverage overlap check + new coverage snapshot. */
  private def appendActions(tx: Txn, st: TableState, segs: Seq[SegmentMeta], diskSchema: StructType,
                            identity: Option[Map[String, String]],
                            appendCov: Option[Bitmap]): Seq[LogAction] = {
    var m = st.tableMeta.getOrElse(meta)
    var metaChanged = false

    // schema adopt-or-enforce: dynamic-then-frozen, exact match
    // (reference append.rs:144-163, schema_compat.rs:96-150). The disk
    // schema is PHYSICAL (staged post-toPhysical); enforce against the
    // physicalized table schema so renamed columns compare apples-to-apples
    // (identity when colMap is empty — adoption always happens pre-rename)
    m.schema match {
      case None =>
        m = m.copy(schemaJson = Some(diskSchema.json)); metaChanged = true
      case Some(existing) =>
        if (m.physicalize(existing) != diskSchema)
          throw SchemaMismatchException(
            s"schema mismatch: table has ${existing.simpleString}, append has ${diskSchema.simpleString}")
    }

    // entity identity pin-or-enforce (reference append.rs:166-196)
    identity.foreach { id =>
      m.entityIdentity match {
        case None =>
          m = m.copy(entityIdentity = Some(id)); metaChanged = true
        case Some(pinned) =>
          if (pinned != id)
            throw EntityIdentityException(s"entity identity mismatch: table pinned $pinned, append has $id")
      }
    }

    // coverage overlap check + new table snapshot (reference append.rs:200-290)
    val coverageAction = appendCov.map { cov =>
      // precondition: every existing segment must carry a coverage sidecar,
      // else the overlap check would be unsound (reference append.rs:50-61)
      val uncovered = st.liveSegments.filter(_.coveragePath.isEmpty)
      if (uncovered.nonEmpty)
        throw new IllegalStateException(
          s"cannot append: ${uncovered.size} existing segments lack coverage sidecars")
      val tableCov = loadTableCoverage(st)
      val overlap = cov.intersect(tableCov)
      if (!overlap.isEmpty)
        throw CoverageOverlapException(segs.head.path, overlap.cardinality, overlap.runList.head._1)
      tx.writeTableCoverage(st, tableCov.union(cov))
    }

    (if (metaChanged) Seq(LogAction.UpdateTableMeta(m)) else Nil) ++ coverageAction.toSeq
  }

  /** Append an existing Parquet file by path (reference CLI `append
    * --parquet`, table/append.rs:370-455): validates the PAR1 magic
    * (transaction_log/segments.rs:98-137), copies the file under
    * `data/` when outside the table root refusing overwrite
    * (storage/table_location.rs:51-130), then runs the standard append
    * pipeline on its rows. */
  def appendParquetFile(spark: SparkSession, path: String): Long = {
    val src = Paths.get(PathNorm.stripFileScheme(path))
    val size = Files.size(src)
    if (size < 8L) throw SchemaMismatchException(s"'$path' too small to be parquet")
    val ch = java.nio.channels.FileChannel.open(src)
    val (head, tail) = try {
      val h = java.nio.ByteBuffer.allocate(4); ch.read(h, 0L)
      val t = java.nio.ByteBuffer.allocate(4); ch.read(t, size - 4)
      (new String(h.array(), "US-ASCII"), new String(t.array(), "US-ASCII"))
    } finally ch.close()
    if (head != "PAR1" || tail != "PAR1")
      throw SchemaMismatchException(s"'$path' is not a parquet file (bad magic)")
    // explicit logical-schema rejection for foreign files (INT96, exotic
    // decimals, nullable map keys) — BEFORE the copy, so a rejected file
    // never lands in data/
    LogicalSchema.validateFooterSchema(spark.sparkContext.hadoopConfiguration, src.toString)
    val inRoot = src.toAbsolutePath.startsWith(Paths.get(PathNorm.stripFileScheme(root)).toAbsolutePath)
    val local =
      if (inRoot) src
      else {
        val dst = Paths.get(PathNorm.stripFileScheme(root), "data", src.getFileName.toString)
        Files.createDirectories(dst.getParent)
        try Files.copy(src, dst)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(s"refusing to overwrite existing ${dst.getFileName}") }
        dst
      }
    // no coalesce: Spark splits the file by row groups across
    // spark.sql.files.maxPartitionBytes, so a multi-GB foreign file is
    // re-staged at cluster parallelism and append commits it as several
    // segments (append supports multi-segment commits; a one-task funnel
    // here serialized multi-GB ingests through a single core)
    try append(spark.read.parquet(local.toString))
    finally if (!inRoot) Files.deleteIfExists(local)
    // ^ the copy is only a TRANSPORT: append() stages the rows into its
    // own commit-named data files, so the copied original is referenced
    // by no commit and Expire would never reclaim it — delete it whether
    // the append landed or was rejected (in-root sources stay the
    // caller's files and are left alone)
  }

  // ------------------------------------------------------ change data feed

  /** Whether row-changing writers record a change feed (TableMeta flag). */
  def cdfEnabled: Boolean = cachedState.tableMeta.exists(_.cdfEnabled)

  /** Turn the change feed on/off — one metadata commit. The feed is
    * readable from the first commit AFTER the enabling one; mutations
    * before it have no record and [[graft.maintain.ChangeFeed]] refuses
    * ranges that cross them (Delta delta.enableChangeDataFeed analog). */
  def enableCdf(maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      if (m.cdfEnabled) None else Some(m.copy(cdfEnabled = true)) }
  def disableCdf(maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      if (!m.cdfEnabled) None else Some(m.copy(cdfEnabled = false)) }

  // ---------------------------------------------------------- row tracking

  /** Whether rows carry stable ids (TableMeta flag). */
  def rowTrackingEnabled: Boolean = cachedState.tableMeta.exists(_.rowTracking)

  /** Turn row tracking on: ONE metadata commit that flips the flag and
    * backfills every live segment with a baseRowId range (the commit hook
    * assigns them — Delta's backfill semantics: pre-enable history has no
    * ids, and existing rows are identified as-of enablement). Main-handle
    * only: a branch enabling tracking independently could mint id ranges
    * that collide with main's at publish. Re-enabling after a disable
    * keeps previously assigned ranges — ids stay stable across the
    * round-trip. Refuses when the schema already claims the reserved
    * column names. */
  def enableRowTracking(maxRetries: Int = 3): Long = {
    requireMainHandle("enable row tracking")
    transact(maxRetries)(_.onCommit { st =>
      val m = st.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
      if (m.rowTracking) Nil
      else {
        m.schema.foreach { s =>
          val clash = s.fieldNames.toSet
            .intersect(Set(RowTracking.RowIdCol, RowTracking.RowCommitCol))
          if (clash.nonEmpty) throw SchemaMismatchException(
            s"row tracking reserves column names ${clash.mkString(", ")}")
        }
        st.liveSegments.filter(_.baseRowId.isEmpty).map(LogAction.AddSegment) :+
          LogAction.UpdateTableMeta(m.copy(rowTracking = true))
      }
    }).version
  }

  /** Turn row tracking off (the high-water mark and assigned ranges are
    * kept, so a later re-enable resumes without id reuse). */
  def disableRowTracking(maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      if (!m.rowTracking) None else Some(m.copy(rowTracking = false)) }

  /** Scan the current snapshot with `_row_id` / `_row_commit` appended —
    * the row-tracking read surface. Ids resolve as
    * coalesce(materialized column, baseRowId + row position), bound before
    * the DV filter ([[read]]). */
  def scanWithRowIds(spark: SparkSession): DataFrame = {
    val st = cachedState
    read(spark, st.liveSegments, trackedMeta(st), ids = true)
  }

  /** Row-id range scan `[lo, hi]` — the point-lookup/incremental-fetch
    * surface of row tracking. File pruning is metadata-only
    * ([[RowTracking.mayHoldIds]]: manifest id intervals and `_row_id`
    * footer stats), so a consumer fetching the rows behind a batch of
    * change-feed ids reads only the files that can hold them, at any table
    * size; the range filter applies to the bound ids. */
  def scanRowIdRange(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty row-id range [$lo, $hi]")
    val st = cachedState
    read(spark, st.liveSegments.filter(RowTracking.mayHoldIds(_, lo, hi)), trackedMeta(st),
      ids = true).where(col(RowTracking.RowIdCol).between(lo, hi))
  }

  private def trackedMeta(st: TableState): Option[TableMeta] = {
    val m = st.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
    require(m.rowTracking, "row tracking is not enabled on this table")
    Some(m)
  }

  /** CHECK constraint: add an ingest-quality gate (name → SQL predicate)
    * as a metadata-only commit. SQL CHECK semantics: a row passes when
    * the predicate is TRUE or NULL; only provably-FALSE rows violate.
    * Existing data is validated first (one scan; rejected if any row
    * violates), so the invariant "every committed row satisfies every
    * check" holds from the moment the commit lands — and rewrites can
    * rely on it. */
  def addCheck(spark: SparkSession, name: String, predicateSql: String,
               maxRetries: Int = 3): Long = {
    import org.apache.spark.sql.functions.{expr, lit, not}
    val cond = expr(predicateSql)
    alterMeta(maxRetries) { (st, m) =>
      require(!m.checks.exists(_._1 == name), s"check '$name' already exists")
      // validate INSIDE the OCC loop, so a write racing this commit gets
      // re-validated on the rebase (a write that lands after our commit
      // is gated by its Txn's CHECK re-gate instead — no unvalidated window)
      if (st.liveSegments.nonEmpty) {
        val bad = read(spark, st).where(not(cond) === lit(true)).count()
        if (bad > 0) throw CheckViolationException(name, predicateSql, bad)
      } else if (m.schema.isDefined) {
        read(spark, st).where(cond).queryExecution.analyzed // fail fast on bad columns
      }
      Some(m.copy(checks = m.checks :+ (name -> predicateSql)))
    }
  }

  /** Tag a version with a stable name (metadata-only commit). Tags are
    * human-stable time-travel handles; [[graft.maintain.Expire]] refuses
    * to reclaim history a tag still points into. Default target: the
    * current version. */
  def setTag(name: String, version: Option[Long] = None, maxRetries: Int = 3): Long =
    updateTags(name, current => {
      val v = version.getOrElse(current)
      require(v >= 1 && v <= current, s"tag target v$v out of range [1, $current]")
      // the target must still be REPLAYABLE — commits/checkpoint AND data
      // files: tagging a version expiration already reclaimed would wedge
      // every later expire and fail scanAtTag far from the cause
      pinWithFiles(v, s"tag v$v")
      Some(v)
    }, maxRetries)

  /** The snapshot at `v`, refused unless every file it references is still
    * on disk: a surviving checkpoint can outlive files the expire sweep
    * reclaimed, and a tag or restore naming such a snapshot would fail far
    * from the cause. Paths resolve like the reader's, so a shallow clone's
    * external references are checked in the source's root. */
  private[graft] def pinWithFiles(v: Long, what: String): TableState = {
    val st = TableState.rebuildAt(store, v)
    val missing = st.liveSegments.flatMap(_.files).filterNot(rel =>
      Files.exists(localPath(rel)))
    require(missing.isEmpty,
      s"cannot $what: ${missing.size} referenced file(s) already reclaimed by " +
        s"snapshot expiration, e.g. ${missing.take(3).mkString(", ")}")
    st
  }

  /** Remove a tag (metadata-only commit). */
  def dropTag(name: String, maxRetries: Int = 3): Long =
    updateTags(name, _ => None, maxRetries, mustExist = true)

  def tags: Map[String, Long] = cachedState.tableMeta.map(_.tags).getOrElse(Map.empty)

  /** The version tag `name` points at. */
  private[graft] def tagVersion(name: String): Long = {
    refresh()
    tags.getOrElse(name, throw new IllegalArgumentException(
      s"no such tag: '$name' (have: ${tags.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Time-travel scan by tag name. */
  def scanAtTag(spark: SparkSession, name: String): DataFrame =
    scanAt(spark, tagVersion(name))

  /** Time travel by wall clock (`AS OF TIMESTAMP` — Delta/Iceberg analog):
    * the snapshot a reader at `tsMillis` would have seen, i.e. the LAST
    * commit whose recorded `timestamp` is ≤ `tsMillis`. Resolution scans
    * only the commit timestamps the log still holds (KB-sized JSONs,
    * driver-side, the same cost class as `history` — snapshot expiration
    * keeps the retained window bounded at any table scale) and tolerates
    * non-monotone stamps from cross-process writer clock skew by taking
    * the max qualifying version, not the first. Refused with a clear
    * error when `tsMillis` predates the earliest retained commit (its
    * state was reclaimed — same contract as expired `scanAt`). */
  def versionAsOf(tsMillis: Long): Long = {
    refresh()
    val cur = store.currentVersion()
    require(cur >= 1, "table has no commits yet")
    val retained = store.commits(store.earliestRetained(), cur)
    retained.filter(_.timestampMillis <= tsMillis).map(_.version).maxOption.getOrElse {
      val earliest = retained.minBy(_.timestampMillis)
      throw new IllegalArgumentException(
        s"no snapshot at or before timestamp $tsMillis " +
          s"(${java.time.Instant.ofEpochMilli(tsMillis)}): earliest retained commit is " +
          s"v${earliest.version} at ${java.time.Instant.ofEpochMilli(earliest.timestampMillis)} " +
          "— older history was reclaimed by snapshot expiration")
    }
  }

  /** Time-travel scan as of a wall-clock instant (epoch millis). */
  def scanAsOf(spark: SparkSession, tsMillis: Long): DataFrame =
    scanAt(spark, versionAsOf(tsMillis))

  /** SHALLOW CLONE (Delta CLONE / Iceberg snapshot-ref analog): a new,
    * fully independent table at `destRoot` whose first commit references
    * this table's live data files IN PLACE via absolute manifest paths —
    * zero data bytes move, so cloning a 100 TB table costs one metadata
    * commit plus KB-sized sidecar copies (DV bitmaps, coverage). The clone
    * is a complete table: scans prune through the copied stats, every
    * writer verb works, and maintenance rewrites (compaction, CoW
    * DELETE/UPDATE/MERGE) progressively re-materialize touched files under
    * the clone's own root — copy-on-write divergence, the source never
    * sees clone writes and vice versa. The clone's Expire deletes only
    * files it owns ([[graft.meta.PathNorm.ownedBy]]): external references
    * age out of its manifest without touching the source's bytes.
    *
    * Caveat (same as Delta shallow clones, documented public behavior):
    * the source's own Expire does not know about clones — expiring source
    * history that removed files a clone still references breaks that
    * clone's reads. Tag the source version (`setTag`) to hold it, or
    * compact the clone (`Compaction.run`) to make it self-contained.
    *
    * Tags are not copied (they name SOURCE log versions); txn watermarks
    * ARE, so a streaming writer repointed at the clone keeps exactly-once.
    */
  def cloneTo(destRoot: String, at: Option[Long] = None): TsTable = {
    requireMainHandle("cloneTo")
    refresh()
    val v = at.getOrElse(version)
    require(v >= 1 && v <= version, s"clone source version v$v out of range [1, $version]")
    require(graft.meta.PathNorm.canonical(destRoot) != graft.meta.PathNorm.canonical(root),
      "clone target must differ from the source root")
    val st = TableState.rebuildAt(store, v)
    val destStore = LogStore(destRoot)
    if (destStore.currentVersion() != 0L)
      throw ConflictException(0L, destStore.currentVersion())
    destStore.initDirs()
    // per-segment sidecars (DV bitmaps, coverage runs) are KBs — copy them
    // so the clone's MOR reads and coverage queries never reach back into
    // the source's mutable sidecar namespace
    def copySidecar(rel: String): Unit = {
      val src = Paths.get(PathNorm.stripFileScheme(s"$root/$rel"))
      val dst = Paths.get(PathNorm.stripFileScheme(s"$destRoot/$rel"))
      Files.createDirectories(dst.getParent)
      if (Files.exists(src))
        Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val segs = st.liveSegments.map { seg =>
      seg.dvPath.foreach(copySidecar)
      seg.coveragePath.foreach(copySidecar)
      // already-absolute paths (clone of a clone) pass through unchanged
      seg.copy(path = graft.meta.PathNorm.resolve(root, seg.path))
    }
    st.tableCoverage.foreach(c => copySidecar(c.coveragePath))
    val actions: Seq[LogAction] =
      st.tableMeta.map(m => LogAction.UpdateTableMeta(m.copy(tags = Map.empty))).toSeq ++
        segs.map(LogAction.AddSegment) ++
        st.tableCoverage.map(c => LogAction.UpdateTableCoverage(c.bucketSpec, c.coveragePath)).toSeq ++
        st.txns.toSeq.sortBy(_._1).map { case (a, b) => LogAction.SetTxn(a, b) }
    destStore.commitWithExpectedVersion(0L, actions)
    new TsTable(destRoot, destStore)
  }

  // ------------------------------------------------------------ branches

  /** Create a branch forked at `at` (default: the current version) and
    * return a writable handle on it — the write-audit-publish (WAP)
    * entry point. Every writer verb on the returned handle (append,
    * MERGE, DELETE/UPDATE, compaction, streaming ingest) commits to the
    * branch log under `_branches/<name>/`, invisible to main readers;
    * data files share the table's `data/` root (UUID names never
    * collide) and [[graft.maintain.Expire]] retains them while the
    * branch lives. Audit = any read/CHECK against the branch handle;
    * publish = [[publishBranch]]; abandon = [[dropBranch]]. */
  def createBranch(name: String, at: Option[Long] = None): TsTable = {
    requireMainHandle("createBranch")
    refresh()
    val v = at.getOrElse(version)
    require(v >= 1 && v <= version, s"branch fork point v$v out of range [1, $version]")
    // forking at a version expiration already reclaimed would wedge every
    // later expire
    TableState.rebuildAt(store, v)
    BranchLog.create(store.tableRoot, name, v)
    branch(name)
  }

  /** Writable handle on an existing branch. */
  def branch(name: String): TsTable = {
    requireMainHandle("branch")
    new TsTable(root, BranchLog.open(store.tableRoot, name))
  }

  def branches: Seq[String] = BranchLog.list(store.tableRoot)

  /** The branch this handle writes to, if it is a branch handle. */
  def branchName: Option[String] = store match {
    case b: BranchLog => Some(b.branch); case _ => None
  }

  /** Delete a branch and its commit files. Data files the branch added
    * become unreferenced and are reclaimed by the next expire sweep
    * (age-guarded, like any crashed-writer debris). */
  def dropBranch(name: String): Boolean = {
    requireMainHandle("dropBranch")
    BranchLog.drop(store.tableRoot, name)
  }

  /** Publish a branch onto main as ONE atomic squash commit — the
    * fast-forward half of WAP. The net effect between the branch's fork
    * state and its head (segment removes/upserts/adds, meta, coverage
    * pointer, txn watermarks) lands in a single OCC commit, so main
    * readers flip from pre-branch to post-branch state atomically and a
    * publish racing another writer either wins wholly or not at all.
    * Fast-forward only: if main advanced past the fork point the publish
    * fails (re-branch from the new head and replay) — a cross-writer
    * rebase would silently re-order snapshot history. Changed segments
    * (e.g. a DV attached on the branch) are emitted as Remove+Add like
    * every data-change commit, so a streaming tail of main skips them
    * rather than re-delivering rows. */
  def publishBranch(name: String, maxRetries: Int = 5, dropAfter: Boolean = true): Long = {
    requireMainHandle("publishBranch")
    val bl = BranchLog.open(store.tableRoot, name)
    val head = TableState.rebuildAt(bl, bl.currentVersion())
    val committed = transact(maxRetries)(_.onCommit { st =>
      // fast-forward only, so the snapshot committed over IS the fork state
      if (st.version != bl.base)
        throw new IllegalStateException(
          s"non-fast-forward publish: branch '$name' forked at v${bl.base} but main " +
            s"is at v${st.version}; re-branch from the new head and replay")
      st.segmentDelta(head) ++
        head.tableMeta.filterNot(st.tableMeta.contains).map(LogAction.UpdateTableMeta) ++
        head.tableCoverage.filterNot(st.tableCoverage.contains)
          .map(c => LogAction.UpdateTableCoverage(c.bucketSpec, c.coveragePath)) ++
        head.txns.toSeq.sortBy(_._1).collect {
          case (app, batch) if st.txns.get(app).forall(_ < batch) => LogAction.SetTxn(app, batch)
        }
    }).version
    if (dropAfter) dropBranch(name)
    committed
  }

  private def requireMainHandle(op: String): Unit = store match {
    case b: BranchLog => throw new IllegalStateException(
      s"$op must run on the main table handle, not branch '${b.branch}' (nested branches are not supported)")
    case _ => ()
  }

  private def updateTags(name: String, f: Long => Option[Long], maxRetries: Int,
                         mustExist: Boolean = false): Long =
    alterMeta(maxRetries) { (st, m) =>
      if (mustExist) require(m.tags.contains(name), s"no such tag: '$name'")
      val newTags = f(st.version) match {
        case Some(v) => m.tags + (name -> v)
        case None => m.tags - name
      }
      if (newTags == m.tags) None else Some(m.copy(tags = newTags))
    }

  /** Metadata-only commits (schema evolution, checks, tags, flags): a
    * [[Txn]] whose one UpdateTableMeta is `f` applied to the CURRENT meta
    * of the snapshot committed over, so a rebase re-validates against what
    * it actually commits over (throw to abort, None for a no-op). */
  private def alterMeta(maxRetries: Int)
                       (f: (TableState, TableMeta) => Option[TableMeta]): Long =
    transact(maxRetries)(_.onCommit { st =>
      val m = st.tableMeta.getOrElse(throw new IllegalStateException(
        "no table metadata yet — create the table first"))
      f(st, m).map(LogAction.UpdateTableMeta).toSeq
    }).version

  /** Drop a CHECK constraint (metadata-only). */
  def dropCheck(name: String, maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      require(m.checks.exists(_._1 == name), s"no such check: '$name'")
      Some(m.copy(checks = m.checks.filterNot(_._1 == name)))
    }

  // ------------------------------------------------- column mapping view

  /** logical → physical column mapping (empty = never renamed). */
  private[graft] def colMap: Map[String, String] =
    cachedState.tableMeta.map(_.colMap).getOrElse(Map.empty)

  /** Rename a user-facing (logical) DataFrame to physical names for a
    * write, or a physical read back to logical for user expressions.
    * Identity (the same DataFrame object) when no rename ever happened. */
  private[graft] def toPhysical(df: DataFrame): DataFrame = renameCols(df, colMap)
  private[graft] def toLogical(df: DataFrame): DataFrame =
    renameCols(df, colMap.map(_.swap))
  private def renameCols(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else m.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d }

  /** The segments of `segs` a user predicate may match, by the scan's one
    * pruning entry ([[FilePruning]]: footer stats, then key blooms), with
    * the optimized predicate's filter conditions (the whole predicate, for
    * a determinism check). The entry sees only what a scan hands
    * [[TsFileIndex]]: the deterministic conjuncts without subqueries
    * of the optimized filters that sit directly on the table's relation
    * of zero files, so literal casts are folded, RuntimeReplaceable nodes
    * replaced, and columns named physically, as the stats are keyed. A
    * filter a subquery rewrite puts over another relation never prunes
    * this table. A predicate that folds away, or a table with no schema
    * adopted yet, keeps every segment. */
  private[graft] def statsCandidates(spark: SparkSession, segs: Seq[SegmentMeta],
                                     cond: Column): (Seq[SegmentMeta], Seq[Expression]) = {
    val empty = read(spark, Nil, cachedState.tableMeta)
    if (empty.columns.isEmpty) (segs, Nil)
    else {
      val own = empty.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.outputSet }.get
      def onOwn(p: LogicalPlan): Boolean = p match {
        case Filter(_, child) => onOwn(child)
        case l: LogicalRelation => l.outputSet.subsetOf(own)
        case _ => false
      }
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val plan = empty.where(cond).queryExecution.optimizedPlan
      val scanned = plan.collect { case Filter(c, child) if onOwn(child) => conjuncts(c) }.flatten
        .filter(e => e.deterministic && !SubqueryExpression.hasSubquery(e))
      (FilePruning.prune(segs, scanned, bloomKeyColumn, spark.sparkContext.hadoopConfiguration)(
        identity, abs), plan.collect { case f: Filter => f.condition })
    }
  }

  /** Schema evolution: ADD COLUMN as a metadata-only commit (one
    * UpdateTableMeta action — no data file is touched, so evolving a
    * 100 TB table costs one log write). The new column is forced
    * nullable: files written before the evolution have no values for it
    * and every scan fills NULL there via Spark's parquet missing-column
    * handling (the relation's dataSchema is the MANIFEST schema, not the
    * file footers'). Appends after the commit must carry the full evolved
    * schema — the adopt-or-enforce check keeps exact-match semantics, so
    * an old-schema writer fails loudly instead of silently dropping the
    * column. OCC rebase-retry like every other metadata commit. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
                maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(!sch.fieldNames.contains(name), s"column '$name' already exists")
      // a renamed column's frozen physical name still occupies the files —
      // a new logical column with that name would collide on every write
      require(!m.colMap.valuesIterator.contains(name),
        s"'$name' is the physical name of a renamed column; pick another name")
      val evolved = StructType(sch.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
      Some(m.copy(schemaJson = Some(evolved.json)))
    }

  /** Schema evolution: RENAME COLUMN as a metadata-only commit, via a
    * column mapping (Delta columnMapping / Iceberg rename-by-field-id
    * analog). Physical names are FROZEN at column creation: the files —
    * past AND future — keep the original name, and every scan restores
    * the logical view with one alias projection (filters and pruning push
    * through it), so renaming a column on a 100 TB table costs one log
    * write and zero data IO forever. Maintenance rewrites stay physical
    * end-to-end and never need to know. Refused for columns the table's
    * layout identity depends on (time index, entity, cluster columns) and
    * for columns a CHECK still references (drop the check first) — the
    * same conservative guards as DROP COLUMN. Pre-rename snapshots
    * time-travel under the old name (each snapshot scans via its own
    * meta). The DSv1 `format("graft-table")` batch relation has no
    * projection hook and refuses renamed tables loudly, like DV'd ones. */
  def renameColumn(oldName: String, newName: String, maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(sch.fieldNames.contains(oldName), s"no such column: '$oldName'")
      require(newName.nonEmpty && newName != oldName, s"bad target name: '$newName'")
      require(!sch.fieldNames.contains(newName), s"column '$newName' already exists")
      require(!(m.colMap - oldName).valuesIterator.contains(newName),
        s"'$newName' is the physical name of another renamed column")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(oldName != s.timestampColumn,
            s"cannot rename the time-index column '$oldName'")
          require(!s.entityColumns.contains(oldName),
            s"cannot rename entity column '$oldName'")
        case TableKind.Clustered(s) =>
          require(!s.columns.contains(m.physicalName(oldName)),
            s"cannot rename cluster column '$oldName'")
      }
      checkNaming(m, oldName).foreach { case (cn, sql) =>
        throw new IllegalStateException(
          s"cannot rename '$oldName': CHECK '$cn' ($sql) references it — drop the check first")
      }
      val evolved = StructType(sch.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val physical = m.physicalName(oldName) // frozen across chained renames
      val cmap = (m.colMap - oldName) ++
        (if (physical == newName) Map.empty[String, String] // renamed back
         else Map(newName -> physical))
      Some(m.copy(schemaJson = Some(evolved.json), colMap = cmap))
    }

  /** The first CHECK of `m` whose parsed expression names `column`
    * (case-insensitively, in any part of an attribute name; a lambda
    * variable of that name counts too, which only costs an explicit
    * drop-check). */
  private def checkNaming(m: TableMeta, column: String): Option[(String, String)] =
    m.checks.find { case (_, sql) =>
      CatalystSqlParser.parseExpression(sql).exists {
        case a: UnresolvedAttribute => a.nameParts.exists(_.equalsIgnoreCase(column))
        case _ => false
      }
    }

  /** Schema evolution: DROP COLUMN as a metadata-only commit. Files keep
    * the column physically (no rewrite — dropping a column from a 100 TB
    * table costs one log write) but every scan and maintenance read pins
    * the MANIFEST schema, so the column vanishes everywhere at once;
    * a later compaction rewrites files without it as a side effect.
    * Appends after the commit must carry the narrowed schema. Refused
    * for columns the table's identity depends on (time index, entity,
    * cluster columns) and for columns a CHECK constraint still
    * references (drop the check first). */
  def dropColumn(name: String, maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(sch.fieldNames.contains(name), s"no such column: '$name'")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(name != s.timestampColumn, s"cannot drop the time-index column '$name'")
          require(!s.entityColumns.contains(name), s"cannot drop entity column '$name'")
        case TableKind.Clustered(s) =>
          // spec columns are stored under physical names (frozen); map the
          // logical drop target through the rename mapping before comparing
          require(!s.columns.contains(m.physicalName(name)),
            s"cannot drop cluster column '$name'")
      }
      checkNaming(m, name).foreach { case (cn, sql) =>
        throw new IllegalStateException(
          s"cannot drop '$name': CHECK '$cn' ($sql) references it — drop the check first")
      }
      val evolved = StructType(sch.fields.filterNot(_.name == name))
      require(evolved.fields.nonEmpty, "cannot drop the last column")
      Some(m.copy(schemaJson = Some(evolved.json), colMap = m.colMap - name))
    }

  /** Schema evolution: ALTER COLUMN TYPE as a metadata-only commit —
    * WIDENING conversions only (the Delta type-widening / Iceberg
    * type-promotion matrix): int→long, int/float→double, int/long/decimal
    * →wider decimal. Existing files keep their narrow physical type and
    * no byte is rewritten at any table scale: Spark's vectorized parquet
    * reader natively up-converts when the manifest-pinned read schema is
    * wider than the footer type (probed on this Spark: INT32 reads as
    * LONG/DOUBLE/DECIMAL(20,0) with exact values), so every scan,
    * maintenance read, and the streaming source see the widened type
    * uniformly across file eras. Appends must arrive with the NEW type
    * (exact-match enforcement, same as any schema drift). Pruning: old
    * files' stats sidecars keep their narrow min/max, which compare
    * exactly with the optimized predicate's literal folded to the wider
    * type, so those files keep pruning. Lossy conversions (long→double,
    * narrowing) are refused. The time-index column is refused (layout
    * identity); cluster columns are fine — the curve key range-normalizes
    * numerics in DOUBLE space whatever the declared width. */
  def alterColumnType(name: String, newType: org.apache.spark.sql.types.DataType,
                      maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      import org.apache.spark.sql.types._
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      val field = sch.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no such column: '$name'"))
      def widens(from: DataType, to: DataType): Boolean = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType)            => true
        case (IntegerType, LongType)                        => true
        case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, d: DecimalType) =>
          d.precision - d.scale >= 10
        case (LongType, d: DecimalType) => d.precision - d.scale >= 20
        case (f: DecimalType, t: DecimalType) =>
          t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
        // element widening inside arrays (token ids int→long is THE
        // training-data case); parquet's repeated pages up-convert the
        // same way scalar pages do (probed exact on this Spark)
        case (ArrayType(fe, fn), ArrayType(te, tn)) => tn == fn && widens(fe, te)
        case _ => false
      }
      require(widens(field.dataType, newType),
        s"cannot change '$name' from ${field.dataType.simpleString} to " +
          s"${newType.simpleString}: only widening conversions are metadata-safe " +
          "(int→long, int/float→double, →wider decimal)")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(name != s.timestampColumn,
            s"cannot retype the time-index column '$name'")
        case _ => ()
      }
      val evolved = StructType(sch.fields.map(f =>
        if (f.name == name) f.copy(dataType = newType) else f))
      Some(m.copy(schemaJson = Some(evolved.json)))
    }

  /** Clustering evolution: ALTER CLUSTER BY as a metadata-only commit
    * (Iceberg sort-order-evolution analog). Existing files keep their old
    * layout and old-key footer blooms — scans stay correct because stats
    * pruning reads per-file min/max of whatever column is filtered and
    * MERGE bloom refinement answers "maybe" for files without a bloom on
    * the new key (KeyBloom missing-bloom ⇒ true, sound). The NEXT
    * compaction re-clusters under the new spec: curve fitting, salting,
    * and write-time blooms all read the live meta, so one log write
    * re-routes every future maintenance job — re-clustering a 100 TB
    * table is then incremental (predicate-scoped `compact --where` can
    * migrate hot slices first). Refused for time-series tables, whose
    * layout identity IS the time index. */
  def alterClusterBy(columns: Seq[String], curve: String, maxRetries: Int = 3): Long =
    alterMeta(maxRetries) { (_, m) =>
      m.kind match {
        case TableKind.TimeSeries(_) =>
          throw new IllegalStateException(
            "time-series tables cluster by their time index; ALTER CLUSTER BY applies to clustered tables")
        case TableKind.Clustered(old) =>
          require(columns.nonEmpty, "cluster spec needs at least one column")
          require(columns.distinct.size == columns.size,
            s"duplicate cluster columns: ${columns.mkString(",")}")
          val sch = m.schema.getOrElse(throw new IllegalStateException(
            "no schema adopted yet — append once before evolving the cluster spec"))
          columns.foreach(c => require(sch.fieldNames.contains(c),
            s"no such column: '$c'"))
          // spec columns are stored PHYSICAL (curve fitting and the write
          // path read stats/files, which are physical); callers pass
          // logical names — identical unless the column was renamed
          val next = ClusterSpec(columns.map(m.physicalName), curve) // validates the curve name
          if (next == old) None else Some(m.copy(kind = TableKind.Clustered(next)))
      }
    }

  /** Entity identity via footer-stats fast path (min==max per column ⇒
    * constant), falling back to a distinct().limit(2) scan — the same
    * two-tier scheme as the reference (formats/parquet/entity_identity.rs). */
  private def extractEntityIdentity(spark: SparkSession, segs: Seq[SegmentMeta],
                                    spec: TimeIndexSpec): Option[Map[String, String]] = {
    if (spec.entityColumns.isEmpty) return None
    val identity = spec.entityColumns.map { c =>
      val perFile = segs.map(_.stats.get(c))
      val fast = perFile.forall {
        case Some(ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), nulls)) => mn == mx && nulls == 0
        case _ => false
      }
      val headVal = perFile.headOption.flatten.flatMap(_.min)
      if (fast && perFile.flatMap(_.flatMap(_.min)).distinct.size == 1) {
        c -> headVal.get.asInstanceOf[StatVal.S].v
      } else {
        val d = spark.read.parquet(segs.map(abs): _*).select(col(c)).distinct().limit(2).collect()
        if (d.length != 1) throw EntityIdentityException(
          s"entity column '$c' must have exactly one value across the appended segment, found ${d.length}")
        if (d(0).isNullAt(0)) throw EntityIdentityException(s"entity column '$c' is null")
        c -> d(0).get(0).toString
      }
    }.toMap
    Some(identity)
  }

  // ------------------------------------------------------------ coverage

  /** Load the table coverage snapshot the way the reference does
    * (table/coverage.rs:29-180): the committed snapshot pointer, or, when
    * that file is lost, the union of the per-segment sidecars. Recovery
    * writes nothing: only a commit can make a snapshot readable. */
  def loadTableCoverage(st: TableState = cachedState): Bitmap = {
    val spec = timeSpec.getOrElse(return Bitmap.empty)
    st.tableCoverage match {
      case Some(ptr) =>
        if (ptr.bucketSpec != spec.bucket.spec)
          throw CorruptLogException(
            s"coverage pointer bucket '${ptr.bucketSpec}' != table bucket '${spec.bucket.spec}'")
        val p = Paths.get(PathNorm.stripFileScheme(s"$root/${ptr.coveragePath}"))
        if (Files.exists(p)) Bitmap.deserialize(Files.readAllBytes(p))
        else coverageUnion(st.liveSegments)
      case None => coverageUnion(st.liveSegments)
    }
  }

  /** The union of the coverage sidecars of `segs`. */
  private[table] def coverageUnion(segs: Seq[SegmentMeta]): Bitmap =
    segs.flatMap(_.coveragePath).foldLeft(Bitmap.empty)((acc, rel) =>
      acc.union(Bitmap.deserialize(Files.readAllBytes(localPath(rel)))))

  /** Metadata-only coverage analytics (reference table/coverage.rs:279-360):
    * half-open [startMicros, endMicros), answered from bitmaps without
    * touching data files. */
  def coverageRatioForRange(startMicros: Long, endMicros: Long): Double = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    loadTableCoverage().coverageRatio(
      BucketMath.expectedBucketsMicros(startMicros, endMicros, spec.bucket))
  }

  def maxGapLenForRange(startMicros: Long, endMicros: Long): Long = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    loadTableCoverage().maxGapLen(
      BucketMath.expectedBucketsMicros(startMicros, endMicros, spec.bucket))
  }

  def lastFullyCoveredWindow(endMicros: Long, lenBuckets: Long): Option[(Int, Int)] = {
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    val endBucket = BucketMath.bucketIdFromMicros(endMicros, spec.bucket)
    loadTableCoverage().lastWindowAtOrBefore(endBucket, lenBuckets)
  }

  // --------------------------------------------------------------- utils

  /** A manifest path as a local path: root-relative, or absolute (a
    * shallow clone's external reference) as is. */
  private[graft] def localPath(rel: String): java.nio.file.Path =
    Paths.get(PathNorm.stripFileScheme(PathNorm.resolve(root, rel)))
}

object TsTable {
  /** The instant `value` of `option` in epoch millis: epoch millis or an
    * ISO-8601 instant. A value that is neither fails naming the option and
    * the value. */
  def instantMillis(option: String, value: String): Long =
    value.toLongOption.getOrElse {
      try java.time.Instant.parse(value).toEpochMilli
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"option $option has an invalid value: '$value' " +
          "(expected epoch millis or an ISO-8601 instant)", e) }
    }

  /** The schema an append adopts from its staged files' footers: the
    * embedded Spark schema when every file carries the same one, else None
    * (the caller infers it from the files). */
  private[graft] def footerSchema(perFile: Seq[Option[StructType]]): Option[StructType] =
    perFile.distinct match {
      case Seq(one) => one
      case _ => None
    }

  /** Bootstrap: verify version==0, commit v1 = UpdateTableMeta
    * (reference table.rs:156-202). */
  def create(root: String, meta: TableMeta): TsTable = {
    val store = LogStore(root)
    if (store.currentVersion() != 0L)
      throw ConflictException(0L, store.currentVersion())
    store.initDirs()
    store.commitWithExpectedVersion(0L, Seq(LogAction.UpdateTableMeta(meta)))
    new TsTable(root, store)
  }

  /** Open an existing table (reference table.rs:115-147). */
  def open(root: String): TsTable = {
    val store = LogStore(root)
    if (store.currentVersion() == 0L)
      throw CorruptLogException(s"no table at $root")
    val t = new TsTable(root, store)
    t.meta // force: reject tables without metadata
    t
  }
}
