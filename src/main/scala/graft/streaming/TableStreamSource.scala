package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import graft.log.TableState
import graft.maintain.ChangeFeed
import graft.meta.SegmentMeta
import graft.table.TsTable

/** Structured Streaming SOURCE over a graft table: tail the transaction
  * log and emit each commit's appended segments as a micro-batch.
  *
  * The reference ships a streaming reader as a Python
  * `pyarrow.RecordBatchReader` pull loop
  * (timeseries-table-python/src/sql_stream_reader.rs); the Spark-native
  * re-expression is a streaming Source whose offsets ARE log versions —
  * restart/recovery, incremental processing and exactly-once composition
  * with any Spark sink come from Structured Streaming itself instead of a
  * bespoke reader protocol.
  *
  * Semantics (Delta-source-shaped, all public knowledge):
  *  - **Offsets = log versions.** Batch (s, e] = segments added by commits
  *    s+1..e. Commit files are immutable and versions dense, so a batch is
  *    deterministic under replay — the exactly-once contract Structured
  *    Streaming needs from a replayable source.
  *  - **Initial snapshot.** The first batch (start = None) is the table
  *    SNAPSHOT at the first trigger's version: the live segment list of
  *    `TableState.rebuildAt(end)` — not a replay of every historical
  *    commit, so a long-compacted table is read at its clustered layout,
  *    and already-expired early segments are never touched. Deterministic
  *    on restart because the snapshot version is pinned by the
  *    checkpointed offset.
  *  - **Rewrite commits are skipped.** Compaction / clustering / MERGE
  *    swap segments with RemoveSegment+AddSegment in one commit
  *    (one graft.table.Txn); replaying their adds would re-emit rows the
  *    stream already delivered. Any commit containing a RemoveSegment is
  *    treated as a data-change commit and skipped (`skipChangeCommits`,
  *    default true — flip to false to fail the query instead, when
  *    downstream must be told the table was rewritten under it).
  *  - **Appends are never skipped**: a pure-append commit carries only
  *    AddSegment (+ meta/coverage/txn) actions and is always emitted.
  *
  * Options:
  *  - `startingVersion` — tail from this commit (inclusive) instead of the
  *    initial snapshot; `startingVersion=latest` tails only commits after
  *    stream start.
  *  - `startingTimestamp` (ISO-8601 or epoch millis; exclusive with
  *    startingVersion) — tail from the first commit stamped at or after
  *    the instant; an instant past every stamp behaves like `latest`.
  *    Resolved once and anchored under the query's metadataPath, so a
  *    restart keeps the original version even after expiration or new
  *    commits reshape the timestamp→version mapping.
  *  - `skipChangeCommits` — see above (default true).
  *  - `maxVersionsPerTrigger` — cap commits per micro-batch so a stream
  *    catching up on a long log backlog does not plan one giant batch
  *    (scan parallelism inside a batch is Spark's; this bounds batch
  *    SIZE). Implemented through SupportsAdmissionControl, so the cap is
  *    anchored on the engine-supplied start offset — exact across
  *    restarts. The initial snapshot is one unit and never split.
  *
  * Trigger.AvailableNow is supported natively (SupportsTriggerAvailableNow):
  * the end version is pinned at query start, so a bounded catch-up run
  * drains to a fixed point even while writers keep committing.
  *
  * Scale: getOffset/getBatch are driver-side metadata (CURRENT read + a
  * few KB of commit JSON); the data plane is the table's own segment
  * reader (`TsTable.read`) over the batch's segments, under the schema
  * pinned at source init — manifest-planned (no listing, no footer
  * inference), vectorized scan, whole-stage codegen, AQE all apply.
  */
final class TableStreamSource(
    sqlContext: SQLContext,
    rootPath: String,
    options: Map[String, String],
    metadataPath: String = "") extends Source
  with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val table = TsTable.open(rootPath)
  private def opt[T](key: String)(parse: String => T): Option[T] =
    TableStreamSource.option(options, key)(parse)

  /** `startingVersion=latest` / `startingTimestamp` resolve ONCE per query
    * lifetime: the resolved version is persisted under the query's
    * metadataPath, so a restart (even one that never committed a batch)
    * keeps the original anchor instead of re-resolving against a log that
    * moved (new commits since, or expiration reshaping the timestamp→
    * version mapping). */
  private def resolveAnchored(compute: => Long): Long = {
    lazy val fallback = compute
    if (metadataPath.isEmpty) return fallback
    val conf = sqlContext.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-starting-version")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) {
      // an EXISTING anchor that cannot be read must fail the query —
      // silently re-resolving would skip every version committed since
      // the original anchor (the exact data-loss this file prevents)
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      try text.trim.toLong
      catch { case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt startingVersion anchor at $p: '${text.trim}'", e) }
    } else {
      try {
        fs.mkdirs(p.getParent)
        val out = fs.create(p, false)
        try out.write(s"$fallback\n".getBytes("UTF-8")) finally out.close()
        fallback
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        resolveAnchored(compute) // lost a create race: the winner's anchor governs
      }
    }
  }

  /** `readChangeFeed=true`: emit the writer-recorded change feed
    * ([[graft.maintain.ChangeFeed]]) instead of appended rows — each batch
    * is the change records of its commit range (pure appends synthesize
    * inserts, DataNeutral rewrites are silent, an unrecorded mutation
    * FAILS the query — there is no silent skip in CDF mode, so
    * skipChangeCommits does not apply). The initial snapshot arrives as
    * `insert` rows at the pinned version, exactly like the plain source's
    * first batch. Schema gains `_change_type`/`_commit_version`/
    * `_commit_timestamp`. */
  private val readChangeFeed: Boolean =
    opt("readChangeFeed")(_.toBoolean).getOrElse(false)

  /** The table meta every batch reads under: the source schema is pinned
    * at init, and physical names never change, so its column mapping stays
    * valid for every later batch. */
  private val meta = table.meta
  private val tableSchema: StructType = meta.schema.getOrElse(
    throw new IllegalStateException(
      s"table at $rootPath has no adopted schema yet (append once before streaming from it)"))

  /** Pinned at source init like the rest of the schema: a CDF stream of a
    * row-tracked table carries `_row_id` (enable mid-stream = restart the
    * query to pick it up, the standard schema-evolution discipline). */
  private val cdfTracked: Boolean =
    readChangeFeed && meta.rowTracking

  override val schema: StructType =
    if (readChangeFeed) TableStreamSource.cdfSchema(tableSchema, cdfTracked)
    else tableSchema

  private val skipChangeCommits: Boolean =
    opt("skipChangeCommits")(_.toBoolean).getOrElse(true)
  private val maxVersionsPerTrigger: Option[Long] =
    opt("maxVersionsPerTrigger")(_.toLong).map { n =>
      require(n > 0, s"maxVersionsPerTrigger must be > 0, got $n"); n
    }
  /** Smallest RETAINED version stamped at or after `tsMillis` — the "tail
    * from this wall-clock instant" anchor. Never-skip rule under clock
    * skew: every version ABOVE the anchor streams regardless of its own
    * stamp. No commit qualifies (the instant is after every stamp) →
    * `latest` semantics: tail only commits after query start. */
  private def firstVersionAtOrAfter(tsMillis: Long): Long = {
    val cur = table.store.currentVersion()
    table.store.commits(table.store.earliestRetained(), cur)
      .find(_.timestampMillis >= tsMillis).fold(cur + 1)(_.version)
  }

  /** None = initial-snapshot mode; Some(v) = tail commits >= v. */
  private val startingVersion: Option[Long] =
    (opt("startingVersion")(v => Option.unless(v.equalsIgnoreCase("latest"))(v.toLong)),
      opt("startingTimestamp")(identity)) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "options startingVersion and startingTimestamp are mutually exclusive")
      case (Some(None), _) => // latest
        Some(resolveAnchored(table.store.currentVersion() + 1))
      case (Some(Some(n)), _) =>
        require(n >= 1, s"startingVersion must be >= 1, got $n"); Some(n)
      case (_, Some(ts)) =>
        // anchored like `latest`
        val ms = TsTable.instantMillis("startingTimestamp", ts)
        Some(resolveAnchored(firstVersionAtOrAfter(ms)))
      case _ => None
    }

  /** AvailableNow pin: versions committed after query start are left for
    * the next run. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(table.store.currentVersion())

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  /** Admission control: the engine hands us the checkpointed start offset,
    * we answer with the capped end — exact rate limiting across restarts.
    * `null` = no new data this trigger. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = availableNowEnd.getOrElse(table.store.currentVersion())
    if (cur == 0L) return null
    val startV = Option(startOffset).map(version).getOrElse(-1L)
    // the startingVersion floor applies ONLY before the first batch: a
    // restarted query anchors on its checkpointed offset, never on a
    // re-resolved floor ("latest" re-resolves higher on every restart and
    // would silently withhold committed-but-unprocessed versions)
    val anchor =
      if (startV >= 0L) startV
      else startingVersion.map(_ - 1).getOrElse(0L)
    val snapshotBatch = startV < 0L && startingVersion.isEmpty
    val end = maxVersionsPerTrigger match {
      case Some(m) if !snapshotBatch => math.min(cur, anchor + m)
      case _ => cur
    }
    if (end <= anchor) null else LongOffset(end)
  }

  override def getOffset: Option[OffsetV1] =
    Option(latestOffset(null, getDefaultReadLimit)).map(o => LongOffset(version(o)))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = version(end)
    if (readChangeFeed) return cdfBatch(start.map(version), endV)
    val segs = start.map(version(_) + 1).orElse(startingVersion) match {
      case Some(from) => addedIn(from, endV)
      case None => snapshotAt(endV)
    }
    val spark = sqlContext.sparkSession
    if (segs.isEmpty) Bridge.emptyStreamingBatch(spark, schema)
    else Bridge.streamingBatch(table.read(spark, segs, Some(meta)), schema)
  }

  /** The initial snapshot: the live segments at the first batch's version.
    * On restart the engine re-issues getBatch(None, v) for the
    * already-committed snapshot batch; if a manifest rewrite has since
    * expired the commits below v, the pin fails as expired (restart from a
    * fresh checkpoint or a startingVersion that still exists). */
  private def snapshotAt(endV: Long): Seq[SegmentMeta] =
    TableState.rebuildAt(table.store, endV).liveSegments

  /** Change-feed batch: tail batches replay the writer-recorded changes of
    * (startV, endV]; the initial snapshot (no checkpointed offset, no
    * startingVersion) arrives as `insert` rows pinned at endV. */
  private def cdfBatch(startV: Option[Long], endV: Long): DataFrame = {
    val spark = sqlContext.sparkSession
    startV.orElse(startingVersion.map(_ - 1)) match {
      case Some(s) =>
        if (s >= endV) Bridge.emptyStreamingBatch(spark, schema)
        else {
          // align to the source's PINNED schema: the feed carries _row_id
          // iff the CURRENT meta tracks rows, which can drift from the
          // init-time pin across a mid-stream enable/disable — missing
          // columns null-fill, extra ones drop
          val feed = ChangeFeed.read(spark, table, s, endV)
          val aligned = schema.fields.toIndexedSeq.map { f =>
            if (feed.columns.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
          Bridge.streamingBatch(feed.select(aligned: _*), schema)
        }
      case None =>
        val segs = snapshotAt(endV)
        if (segs.isEmpty) Bridge.emptyStreamingBatch(spark, schema)
        else {
          val ts = new java.sql.Timestamp(table.store.commits(endV, endV).head.timestampMillis)
          Bridge.streamingBatch(ChangeFeed.inserts(spark, table, segs, meta, cdfTracked)
            .withColumn(ChangeFeed.VersionCol, lit(endV))
            .withColumn(ChangeFeed.TimestampCol, lit(ts)), schema)
        }
    }
  }

  /** Segments appended by commits fromV..toV, skipping (or refusing)
    * data-change commits ([[graft.log.Commit.changesRows]]). Offsets that
    * snapshot expiration dropped while the stream was down fail as expired
    * (restart from a fresh checkpoint or a startingVersion that still
    * exists). */
  private def addedIn(fromV: Long, toV: Long): Seq[SegmentMeta] =
    table.store.commits(fromV, toV).flatMap { c =>
      if (!c.changesRows) c.adds
      else if (skipChangeCommits) Nil
      else throw new IllegalStateException(
        s"commit ${c.version} of $rootPath rewrites, deletes, or re-masks data; " +
          "streaming from it would re-emit or lose rows. Set skipChangeCommits=true " +
          "to stream appends only.")
    }

  // v1 Offset extends the v2 interface, so one decoder serves both paths
  private def version(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong // checkpoint-restored form
    case other => other.json.trim.toLong
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TableStreamSource[$rootPath]"
}

object TableStreamSource {
  /** Option `key` of `options` (the name matched case-insensitively),
    * parsed by `parse`; a value `parse` rejects fails naming the option
    * and the value instead of surfacing the bare parse error. */
  def option[T](options: Map[String, String], key: String)(parse: String => T): Option[T] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) =>
      try parse(v) catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"option $key has an invalid value: '$v'", e) }
    }

  /** The option keys each graft-table surface reads: `path` (the table
    * root, which is also the one key Spark itself passes) and its own. */
  val BatchReadOptions = Set("path", "branch", "versionAsOf", "tag", "timestampAsOf")
  val StreamReadOptions = Set("path", "startingVersion", "startingTimestamp",
    "skipChangeCommits", "maxVersionsPerTrigger", "readChangeFeed")
  val SinkOptions = Set("path", "checkpointLocation")

  /** Fail on an option key outside `known` (names matched
    * case-insensitively, as [[option]] matches them), naming the key: a
    * misspelt option would otherwise be silently ignored. */
  def requireKnown(options: Map[String, String], known: Set[String], surface: String): Unit = {
    val unknown = options.keys.filterNot(k => known.exists(_.equalsIgnoreCase(k)))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"graft-table $surface does not read option ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"it reads ${known.toSeq.sorted.mkString(", ")}")
  }

  /** Source schema in change-feed mode: the table's logical columns +
    * the feed's three metadata columns, in [[graft.maintain.ChangeFeed]]'s
    * column order (streamingBatch re-tags by POSITION). */
  def cdfSchema(tableSchema: StructType, tracked: Boolean = false): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, TimestampType}
    StructType(tableSchema.fields ++
      (if (tracked) Seq(StructField(graft.table.RowTracking.RowIdCol, LongType)) else Nil) ++
      Seq(
        StructField(graft.maintain.ChangeFeed.ChangeTypeCol, StringType),
        StructField(graft.maintain.ChangeFeed.VersionCol, LongType, nullable = false),
        StructField(graft.maintain.ChangeFeed.TimestampCol, TimestampType)))
  }
}

/** The "graft-table" data source — batch and streaming reads through one
  * format name:
  *
  *   spark.read.format("graft-table").load(root)                // batch
  *   spark.read.format("graft-table")
  *     .option("versionAsOf", 3).load(root)                     // time travel
  *     .option("timestampAsOf", "2026-01-01T00:00:00Z")         //   (or by instant)
  *   spark.readStream.format("graft-table").load(root)          // streaming
  *   CREATE TEMPORARY VIEW t USING `graft-table` OPTIONS (path '…')  -- SQL
  *
  * The batch relation is the same manifest-backed, stats-pruned FileIndex
  * as `TsTable.scan` (reference: the DataFusion TableProvider is the
  * reference's equivalent single integration point,
  * ts_table_provider.rs:126-295). The batch source, the stream source and
  * the sink each fail on an option key they do not read
  * ([[TableStreamSource.requireKnown]]). */
final class GraftSourceProvider extends StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  /** Streaming SINK: `df.writeStream.format("graft-table")
    * .option("checkpointLocation", ck).start(root)` — each micro-batch is
    * one transactional append with the same (checkpoint-derived appId,
    * batchId) exactly-once watermark as StreamingIngest.sink; this is the
    * format-registered form of that foreachBatch pattern. Only Append
    * output mode maps onto an append-only log. */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    TableStreamSource.requireKnown(parameters, TableStreamSource.SinkOptions, "sink")
    require(outputMode == OutputMode.Append(),
      s"graft-table sink supports Append output mode only (got $outputMode)")
    require(partitionColumns.isEmpty,
      "graft-table manages its own layout (compaction/clustering); partitionBy is not supported")
    val tableRoot = root(parameters)
    val ckpt = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
    }.getOrElse(throw new IllegalArgumentException(
      "graft-table sink needs an EXPLICIT option(\"checkpointLocation\", ...): it keys the " +
        "exactly-once txn watermark, which must be stable across restarts. The session default " +
        "(spark.sql.streaming.checkpointLocation) resolves to a per-start subdirectory for " +
        "unnamed queries, so it cannot provide that identity."))
    val app = StreamingIngest.appId(ckpt)
    new Sink {
      private lazy val table = {
        val t = TsTable.open(tableRoot)
        // same upgrade path as StreamingIngest.sink: a pre-canonicalization
        // watermark under a legacy 'stream:file:/…' spelling must carry
        // forward or the first replayed batch re-appends
        StreamingIngest.migrateLegacyWatermark(t, ckpt, app)
        t
      }
      override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
        // the engine hands a streaming-tagged plan whose actions throw;
        // re-wrap it as a batch DF over the same physical RDD. append()
        // executes it exactly once and no-ops on empty batches.
        table.append(org.apache.spark.sql.graft.Bridge.asBatch(data),
          txn = Some((app, batchId)))
        ()
      }
      override def toString: String = s"GraftTableSink[$tableRoot]"
    }
  }

  /** Batch writer: `df.write.format("graft-table").mode("append")
    * .save(root)` runs the full transactional append pipeline (segment
    * write, footer stats, schema enforcement, OCC commit). Only
    * SaveMode.Append maps onto the format's semantics — the log is
    * append-only and rewrites are maintenance operations (Compaction /
    * MergeInto), not blind overwrites. */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    require(mode == SaveMode.Append,
      s"graft-table supports SaveMode.Append only (got $mode); use Compaction/MergeInto/Expire for rewrites")
    val table = TsTable.open(root(parameters))
    table.append(data)
    // the returned relation has the same bare-BaseRelation limitation as
    // the read path below: it cannot carry the deletion-vector filter, so
    // on a DV'd table a consumer scanning it would resurrect masked rows.
    // The append above LANDED either way; only the handed-back relation is
    // refused (read through TsTable.scan / the CLI instead).
    if (table.state.liveSegments.exists(_.dvPath.isDefined))
      throw new UnsupportedOperationException(
        s"append to ${root(parameters)} committed (v${table.version}), but the table " +
          "carries merge-on-read deletion vectors and the DSv1 write contract must " +
          "return a scannable relation that cannot apply them; read the table via " +
          "TsTable.scan / the CLI, or run Compaction to materialize the deletes")
    if (table.state.tableMeta.exists(_.colMap.nonEmpty))
      throw new UnsupportedOperationException(
        s"append to ${root(parameters)} committed (v${table.version}), but the table " +
          "has renamed columns and the bare DSv1 relation cannot apply the " +
          "logical-name projection; read it via TsTable.scan / the CLI")
    table.relationAt(sqlContext.sparkSession, table.state).get
  }

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    TableStreamSource.requireKnown(parameters, TableStreamSource.BatchReadOptions, "batch source")
    val main = TsTable.open(root(parameters))
    // branch-scoped read (WAP audit via plain spark.read); time travel by
    // version or tag composes with it (the branch shares main's prefix)
    val table = parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("branch") => v }
      .map(main.branch).getOrElse(main)
    val pinned = TableStreamSource.option(parameters, "versionAsOf")(_.toLong)
      .orElse(parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("tag") => table.tagVersion(v) })
      .orElse(TableStreamSource.option(parameters, "timestampAsOf")(identity).map(v =>
        table.versionAsOf(TsTable.instantMillis("timestampAsOf", v))))
    val st = pinned.map(v => graft.log.TableState.rebuildAt(table.store, v))
      .getOrElse(table.state)
    // the DSv1 relation contract returns a bare BaseRelation — there is no
    // hook to attach the deletion-vector filter, so a MOR-deleted snapshot
    // read through this path would resurrect deleted rows. Refuse loudly;
    // every other surface (TsTable.scan/scanAt, CLI, SQL shell) applies
    // DVs, and a compaction pass materializes them away for this one.
    if (st.liveSegments.exists(_.dvPath.isDefined))
      throw new UnsupportedOperationException(
        s"table at ${root(parameters)} carries merge-on-read deletion vectors; " +
          "read it via TsTable.scan / the CLI (DV-aware), or run Compaction to " +
          "materialize the deletes before using format(\"graft-table\") batch reads")
    // same DSv1 contract gap for RENAME COLUMN: a bare BaseRelation cannot
    // carry the physical→logical alias projection; pre-rename snapshots
    // (pinned state with an empty mapping) still read fine
    if (st.tableMeta.exists(_.colMap.nonEmpty))
      throw new UnsupportedOperationException(
        s"table at ${root(parameters)} has renamed columns; read it via " +
          "TsTable.scan / the CLI (mapping-aware) instead of format(\"graft-table\") batch reads")
    table.relationAt(sqlContext.sparkSession, st).getOrElse(
      throw new IllegalStateException(
        s"table at ${root(parameters)} has no adopted schema yet (append once before reading)"))
  }

  private def root(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-table source needs a path: readStream.format(\"graft-table\").load(<tableRoot>)"))

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    TableStreamSource.requireKnown(parameters, TableStreamSource.StreamReadOptions, "stream source")
    val meta = TsTable.open(root(parameters)).meta
    val base = meta.schema.getOrElse(
      throw new IllegalStateException("table has no adopted schema yet"))
    val cdf = TableStreamSource.option(parameters, "readChangeFeed")(_.toBoolean).getOrElse(false)
    // same tracked-pin rule as the Source itself: a CDF stream of a
    // row-tracked table declares `_row_id`
    val declared =
      if (cdf) TableStreamSource.cdfSchema(base, meta.rowTracking) else base
    schema.foreach { s =>
      require(s == declared,
        s"user-specified schema ${s.simpleString} != table schema ${declared.simpleString}")
    }
    (shortName(), declared)
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new TableStreamSource(sqlContext, root(parameters), parameters, metadataPath)
}
