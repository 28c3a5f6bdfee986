package graft.maintain

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import graft.coverage.Bitmap
import graft.meta.{ColStats, PathNorm, SegmentMeta, StatVal}
import graft.table.{BucketDomainOverflowException, DeletionVectors, RowTracking, TsTable, Txn}
import graft.table.RowTracking.{RowCommitCol, RowIdCol, commitOfThisWrite}

/** The row-level rewrite core behind DELETE, UPDATE, MERGE and the row-id
  * verbs — the shape of Spark DSv2's row-level operations
  * (`SupportsRowLevelOperations`, SPARK-35801). A verb is one [[run]] of
  *
  *  - a [[Match]], which rows: a predicate, a key set or a row-id set. A
  *    predicate, and a key set of at most [[MergeInto.BloomKeyCap]] keys
  *    as the predicate `key IN (keys)`, prune through the one pruning
  *    entry ([[TsTable.statsCandidates]]); a larger key set and a row-id
  *    set prune on their own;
  *  - an [[Outcome]], what the matched rows become: nothing ([[Delete]]),
  *    their SET image ([[Update]]), or the input row with their key or id
  *    ([[Upsert]]; input rows that match nothing insert);
  *  - a mode. Copy-on-write rewrites the files holding matched rows; a file
  *    whose every live row a DELETE removes drops metadata-only. A keyed
  *    upsert rewrites its candidates as survivors ∪ input, re-clustered.
  *    Merge-on-read masks the matched rows with deletion-vector sidecars
  *    and writes the replacement images as new clustered segments.
  *
  * Either way it is ONE atomic commit ([[graft.table.Txn]]: snapshot
  * isolation, OCC rebase, coverage repair on time-series tables), carrying
  * the change-feed record when the feed is on and the streaming (app,
  * batch) watermark when given. Matched rows are always live rows: a file's
  * deletion vector is honoured, and a rewrite materializes it away.
  * SQL semantics: a row whose predicate is NULL does not match; NULL keys
  * never match. */
private[graft] object RowLevel {

  sealed trait Match
  final case class Predicate(cond: Column) extends Match
  final case class Keys(df: DataFrame, key: String) extends Match
  final case class RowIds(df: DataFrame) extends Match

  sealed trait Outcome
  case object Delete extends Outcome
  final case class Update(set: Map[String, Column]) extends Outcome
  case object Upsert extends Outcome

  /** What a run did; each verb's Report is a projection of it.
    * `survivors` = the table's live rows minus the rows matched. */
  final case class Result(candidates: Int, filesKept: Int, filesOut: Int, matched: Long,
                          inserted: Long, survivors: Long, version: Long,
                          droppedMetaOnly: Int, dvAttached: Int)

  /** The nine verbs are the combinations built: predicate × delete/update
    * and keys × upsert in both modes, keys × delete and row ids ×
    * delete/upsert merge-on-read. */
  def run(spark: SparkSession, table: TsTable, m: Match, outcome: Outcome, mor: Boolean,
          txn: Option[(String, Long)] = None,
          targetFileSize: Long = 512L * 1024 * 1024): Result =
    new Run(spark, table, outcome, mor, txn, targetFileSize).apply(m)

  private final class Run(spark: SparkSession, table: TsTable, outcome: Outcome, mor: Boolean,
                          txn: Option[(String, Long)], targetFileSize: Long) {
    private val snapshot = { table.refresh(); table.state }
    private val live = snapshot.liveSegments
    private val totalLive = live.map(_.liveRowCount).sum
    private val tracking = table.rowTrackingEnabled
    private var m: Match = _      // the match, its input set prepared by [[prepare]]
    private var in: DataFrame = _ // that input set (keys and row ids)
    /** The match as a predicate: a [[Predicate]]'s condition, or a small
      * key set's `key IN (keys)` ([[keySet]]). */
    private var cond: Option[Column] = None
    private var large: Option[Large] = None // a key set past the cap ([[keySet]])

    private def result(cands: Int, version: Long, matched: Long = 0L, inserted: Long = 0L,
                       filesOut: Int = 0, changed: Int = 0, dropped: Int = 0, dv: Int = 0) =
      Result(cands, live.size - changed, filesOut, matched, inserted, totalLive - matched,
        version, dropped, dv)

    def apply(input: Match): Result = {
      // cheap pre-skip of an applied streamed batch; the Txn re-checks it
      // under the commit lock
      if (txn.exists { case (app, b) => table.state.txns.get(app).exists(_ >= b) })
        return result(0, table.version)
      outcome match {
        case Update(set) =>
          require(set.nonEmpty, "UPDATE WHERE needs at least one SET assignment")
          val unknown = set.keySet -- table.meta.schema.fold(set.keySet)(_.fieldNames.toSet)
          require(unknown.isEmpty, s"UPDATE WHERE SET targets unknown columns: $unknown")
        case _ =>
      }
      val cached = prepare(input)
      try {
        val inputRows = m match {
          case Predicate(c) => cond = Some(c); -1L // no input set
          case Keys(in, key) => keySet(in, key)
          case RowIds(_) => in.count()
        }
        // an EMPTY streamed batch still advances its watermark, so its
        // replay is recognized; checked before pruning, since stat-less
        // segments are always candidates
        if (inputRows == 0L)
          return result(0, table.transact()(tx => txn.foreach(tx.watermark)).version)
        val cands = (m, large) match {
          case (RowIds(_), _) => if (live.isEmpty) Nil else pruneIds()
          case (_, Some(l)) => if (live.isEmpty) Nil else l.candidates(live)
          // a key set with no non-null key has no predicate and no candidate
          case _ => cond.fold(Seq.empty[SegmentMeta])(prunePredicate)
        }
        if (cands.isEmpty && outcome != Upsert) result(0, table.version)
        else if (mor) mergeOnRead(cands, inputRows)
        else if (outcome == Upsert) rewriteUpsert(cands, inputRows)
        else rewrite(cands)
      } finally cached.foreach(_.unpersist(false))
    }

    /** Set [[m]] to `input` with its input set deduplicated (one row per
      * key or id), upsert rows pinned to the table schema, and persisted:
      * the key set, the matched-row pass and the write all read it.
      * Returns what it persisted. */
    private def prepare(input: Match): Option[DataFrame] = {
      // keyed rows must carry exactly the table's columns; row-id rows may
      // carry more (change-feed records), and keep their `_row_id`
      def pin(df: DataFrame, keyed: Boolean): DataFrame = table.meta.schema match {
        case Some(sch) =>
          val what = if (keyed) "MERGE update set" else "upsert rows"
          val missing = sch.fieldNames.filterNot(df.columns.contains)
          require(missing.isEmpty, s"$what lacks table columns: ${missing.mkString(", ")}")
          val extra = df.columns.filterNot(sch.fieldNames.contains)
          require(!keyed || extra.isEmpty, s"$what has unknown columns: ${extra.mkString(", ")}")
          df.select(sch.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
            (if (keyed) Nil else Seq(col(RowIdCol).cast("long").as(RowIdCol))): _*)
        case None => df
      }
      // persisted after `pin` validated it: a rejected set leaves no cache
      def kept(df: DataFrame) = Some(df.persist(StorageLevel.MEMORY_AND_DISK))
      val upsert = outcome == Upsert
      input match {
        case Predicate(_) => m = input; None
        case Keys(df, key) =>
          val set = (if (upsert) df else df.select(col(key))).dropDuplicates(key)
          in = if (upsert) pin(set, keyed = true) else set
          m = Keys(in, key)
          kept(in)
        case RowIds(df) => // merge-on-read only
          val ids = if (upsert) pin(df, keyed = false)
                    else df.select(col(df.columns.head).cast("long").as(RowIdCol))
          val one = ids.where(col(RowIdCol).isNotNull).dropDuplicates(RowIdCol)
          in = if (upsert) one.unionByName(ids.where(col(RowIdCol).isNull)) else one
          m = RowIds(in)
          kept(in)
      }
    }

    /** [[cond]], false where it is NULL. */
    private def hit: Column = coalesce(cond.getOrElse(lit(false)), lit(false))

    /** Rows of `df` (a live read) the match selects. */
    private def matched(df: DataFrame): DataFrame = (m, large) match {
      case (RowIds(in), _) => df.join(in.select(RowIdCol), Seq(RowIdCol), "left_semi")
      case (_, Some(l)) => l.semi(df)
      case _ => df.where(hit)
    }

    /** The live rows of `segs` under this run's snapshot, with the
      * row-tracking columns when the table tracks rows. */
    private def read(session: SparkSession, segs: Seq[SegmentMeta], ids: Boolean = tracking) =
      table.read(session, segs, snapshot.tableMeta, ids)

    /** Copy-on-write by predicate: per-file match counts pick the files to
      * touch; zero-match candidates keep their bytes and segment ids. */
    private def rewrite(cands: Seq[SegmentMeta]): Result = {
      val (perFile, touched) = matchCounts(cands)
      val rows = perFile.values.sum
      if (rows == 0L) return result(cands.size, table.version)
      // a file whose every live row a DELETE removes drops metadata-only:
      // a range delete on a clustered table fully matches a few files and
      // grazes the rest, and only the grazed ones pay a rewrite.
      // getOrElse: unattributed files (exotic path fallback) are rewritten
      val (dropped, grazed) = touched.partition(s => outcome == Delete &&
        perFile.getOrElse(canonical(s), 0L) == s.liveRowCount)
      val done = table.transact() { tx =>
        txn.foreach(tx.watermark)
        if (table.cdfEnabled) tx.stageCdc(changes(spark, touched))
        tx.remove(touched)
        if (grazed.isEmpty) Nil
        else {
          // row tracking: every rewritten row keeps its id, and an updated
          // row's `_row_commit` becomes this commit (see [[assigned]])
          val old = read(spark, grazed)
          tx.stage(if (outcome == Delete) old.where(!hit)
                   else old.select(assigned(old, Some(hit)): _*))
        }
      }
      result(cands.size, done.version, rows, filesOut = done.value.size,
        changed = touched.size, dropped = dropped.size)
    }

    /** Copy-on-write keyed upsert: every candidate is rewritten as its
      * survivors (the rows the key set misses) ∪ the input rows,
      * re-clustered. */
    private def rewriteUpsert(cands: Seq[SegmentMeta], inputRows: Long): Result = {
      val candBytes = cands.flatMap(_.fileSize).sum
      val candRows = cands.map(_.liveRowCount).sum // DV'd rows never reach the rewrite
      // output sized by the inputs' bytes/row (manifest only, 4 KiB when
      // nothing is read); never fewer files than cores: a 2-file rewrite
      // must not become a 2-task global sort — compaction bin-packs later
      val bytesPerRow = if (cands.nonEmpty) candBytes.toDouble / math.max(candRows, 1L) else 4096.0
      val files = math.max(spark.sparkContext.defaultParallelism,
        math.ceil((candRows + inputRows) * bytesPerRow / targetFileSize).toInt)
      val done = table.transact() { tx =>
        txn.foreach(tx.watermark)
        // candidate reads on the scoped session: its split sizing applies
        // to them and only them (the input keeps the caller's session)
        Compaction.withSizedReadSplits(spark, candBytes, cands.size) { scoped =>
          if (table.cdfEnabled) tx.stageCdc(changes(scoped, cands))
          tx.remove(cands)
          val out = if (cands.isEmpty) in else {
            val old = read(scoped, cands)
            large.fold(old.where(!hit))(_.anti(old)).unionByName(withIds(in, Some(old)))
          }
          tx.stage(clustered(out, files, candRows + inputRows))
        }
      }
      if (done.replayed) return result(0, done.version)
      // from metadata alone: out = survivors + input rows
      val matched = candRows - (done.value.map(_.rowCount).sum - inputRows)
      result(cands.size, done.version, matched, inputRows - matched, done.value.size, cands.size)
    }

    /** Merge-on-read: one column-pruned pass over the candidates masks the
      * matched rows ([[morCompute]]); updated images or upsert rows land
      * as new clustered segments in the same commit. */
    private def mergeOnRead(cands: Seq[SegmentMeta], inputRows: Long): Result = {
      val done = table.transact() { tx =>
        txn.foreach(tx.watermark)
        val plan = if (cands.isEmpty) None else morCompute(spark, table, tx, cands, positions(cands))
        val images: Option[(DataFrame, Long)] = outcome match {
          case Delete => None
          case Update(_) => plan.map { p =>
            val old = matched(read(spark, cands))
            (old.select(assigned(old, None): _*), p.rowsMatched)
          }
          case Upsert =>
            Some((withIds(in, Option.when(cands.nonEmpty)(read(spark, cands))), inputRows))
        }
        // sized like a small append: never more files than cores, never so
        // many that a tiny write fragments (compaction bin-packs later)
        val out = images.map { case (df, rows) =>
          tx.stage(clustered(df, math.max(1, math.min(spark.sparkContext.defaultParallelism,
            math.ceil(rows * 4096.0 / targetFileSize).toInt * 4)), rows))
        }.getOrElse(Nil)
        if (table.cdfEnabled && (plan.isDefined || outcome == Upsert))
          tx.stageCdc(changes(spark, cands))
        (plan.getOrElse(MorPlan(Nil, Nil, 0L)), out)
      }
      if (done.replayed) return result(0, done.version)
      val (p, out) = done.value
      result(cands.size, done.version, p.rowsMatched,
        if (outcome == Upsert) inputRows - p.rowsMatched else 0L, out.size,
        p.upserts.size + p.removeIds.size, p.removeIds.size, p.upserts.size)
    }

    /** The (file, position, matched, survivor bucket) pass of [[morCompute]]. */
    private def positions(cands: Seq[SegmentMeta]): DataFrame = (m, large) match {
      case (RowIds(in), _) => idPositions(in.select(RowIdCol), cands)
      case (Keys(_, key), Some(l)) => morBase(spark, table, cands)(rows =>
        l.hit(rows.select(col("_metadata.file_path").as("__f"),
            col("_metadata.row_index").as("__i"), col(key), bucketExpr(table).as("__b")))
          .select(col("__f"), col("__i"), col("__m"), col("__b")))
      case _ => morBase(spark, table, cands)(rows =>
        rows.select(col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__i"),
          hit.as("__m"), bucketExpr(table).as("__b")))
    }

    /** SET applied against the OLD values (assignments are simultaneous),
      * cast to the column's type so the table schema is invariant, on the
      * rows where `where` holds (all rows when None). An updated row keeps
      * its `_row_id`; its `_row_commit` becomes NULL, which the read side
      * resolves to the new file's version — this commit. */
    private def assigned(df: DataFrame, where: Option[Column]): Seq[Column] = {
      val Update(set) = outcome
      df.schema.fields.toSeq.map { f =>
        val v = if (f.name == RowCommitCol) Some(commitOfThisWrite) else set.get(f.name)
        v.fold(col(f.name)) { x =>
          val c = x.cast(f.dataType)
          where.fold(c)(w => when(w, c).otherwise(col(f.name))).as(f.name)
        }
      }
    }

    /** Row-tracking columns of upsert rows: a keyed row keeps the smallest
      * live id of its key in `old` (all rows of a duplicated key collapse
      * into it), a row-id row its own id; `_row_commit` NULL = this commit.
      * A row without an id mints one from its file's commit-assigned base;
      * keyed rows with no `old` read stay as they are and all mint. */
    private def withIds(rows: DataFrame, old: => Option[DataFrame]): DataFrame = m match {
      case _ if !tracking => rows
      case Keys(_, key) => old.fold(rows)(o => rows
        .join(o.groupBy(col(key)).agg(min(col(RowIdCol)).as(RowIdCol)), Seq(key), "left")
        .withColumn(RowCommitCol, commitOfThisWrite))
      case _ => rows.withColumn(RowCommitCol, commitOfThisWrite)
    }

    /** THE change record ([[ChangeFeed]] vocabulary) of a run over `cands`:
      * `delete` for deleted rows, an `update_pre`/`update_post` pair per
      * updated row, and for an upsert `update_pre` for each replaced row,
      * `update_post` for each input row that replaced one and `insert` for
      * the rest. Images carry `_row_id` when the table tracks rows (NULL
      * for keyed inserts: the commit mints their ids). One extra read of
      * the candidates, paid only when the feed is on. */
    private def changes(session: SparkSession, cands: Seq[SegmentMeta]): DataFrame = {
      def tag(df: DataFrame, t: String) = df.withColumn(ChangeFeed.ChangeTypeCol, lit(t))
      lazy val old = matched(read(session, cands)).drop(RowCommitCol)
      outcome match {
        case Delete => tag(old, "delete")
        case Update(_) =>
          def image(cs: Seq[Column], t: String) = struct(cs :+ lit(t).as(ChangeFeed.ChangeTypeCol): _*)
          old.select(explode(array(image(old.columns.toSeq.map(col), "update_pre"),
            image(assigned(old, None), "update_post"))).as("__c")).select("__c.*")
        case Upsert =>
          val (post, ins) = (m: @unchecked) match {
            case RowIds(in) => (Some(in.where(col(RowIdCol).isNotNull)), in.where(col(RowIdCol).isNull))
            case Keys(in, key) =>
              val noId = if (tracking) in.withColumn(RowIdCol, lit(null).cast("long")) else in
              if (cands.isEmpty) (None, noId)
              else {
                val all = read(session, cands)
                val held = all.select(key)
                (Some(withIds(in.join(held, Seq(key), "left_semi"), Some(all)).drop(RowCommitCol)),
                  noId.join(held, Seq(key), "left_anti"))
              }
          }
          (Option.when(cands.nonEmpty)(tag(old, "update_pre")) ++ post.map(tag(_, "update_post")) ++
            Seq(tag(ins, "insert"))).reduce(_ unionByName _)
      }
    }

    /** `df` (about `rows` rows) laid out on the table's curve in `files`
      * files by the one clustered writer, [[RangeBuckets.cluster]]. */
    private def clustered(df: DataFrame, files: Int, rows: Long): DataFrame =
      RangeBuckets.cluster(df, table.clusterSpec.map(_.curve).getOrElse("none"),
        ClusterKey.fitFor(table), files, rows)

    /** Row-id candidates from the manifest alone
      * ([[graft.table.RowTracking.mayHoldIds]]) against the id set's [min, max]. */
    private def pruneIds(): Seq[SegmentMeta] = {
      val bounds = in.agg(min(col(RowIdCol)), max(col(RowIdCol))).head()
      if (bounds.isNullAt(0)) return Nil // no non-null id
      live.filter(RowTracking.mayHoldIds(_, bounds.getLong(0), bounds.getLong(1)))
    }

    /** Matched positions of an id set: the positional arm is a broadcast
      * interval join (`pos = id − base`, zero data reads), the materialized
      * arm one `_row_id`-pruned scan semi-joined to the ids; positions a DV
      * already masks are excluded, so a replayed id set is a no-op. */
    private def idPositions(ids: DataFrame, cands: Seq[SegmentMeta]): DataFrame = {
      val (materialized, positional) = cands.partition(_.stats.contains(RowIdCol))
      val posBase = Option.when(positional.nonEmpty) {
        import spark.implicits._
        // each interval carries its file's DV, like a listed file's _metadata
        val intervals = positional.map(s => (canonical(s), s.baseRowId.get,
            s.baseRowId.get + s.rowCount - 1, s.dvPath.map(PathNorm.resolve(table.root, _))))
          .toDF("__f", "__lo", "__hi", "__dv")
        ids.join(broadcast(intervals), col(RowIdCol) >= col("__lo") && col(RowIdCol) <= col("__hi"))
          .select(col("__f"), (col(RowIdCol) - col("__lo")).as("__i"), col("__dv"))
          .where(!DeletionVectors.deleted(col("__dv"), col("__i"))).drop("__dv")
      }
      val matBase = Option.when(materialized.nonEmpty) {
        read(spark, materialized, ids = true)
          .select(col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__i"),
            col(RowIdCol))
          .join(ids, Seq(RowIdCol), "left_semi").select(col("__f"), col("__i"))
      }
      (posBase ++ matBase).reduce(_ unionByName _)
        .select(col("__f"), col("__i"), lit(true).as("__m"), lit(null).cast("long").as("__b"))
    }

    private def canonical(s: SegmentMeta): String =
      PathNorm.canonical(PathNorm.resolve(table.root, s.path))

    /** Predicate candidates ([[TsTable.statsCandidates]]), after
      * rejecting nondeterminism. AlwaysTrue is deliberately NOT used to
      * drop whole files unread: the Tri algebra is
      * necessary-condition-oriented under padded rewrites, so "all rows
      * must match" cannot be concluded from it. */
    private def prunePredicate(condition: Column): Seq[SegmentMeta] = {
      val (kept, filters) = table.statsCandidates(spark, live, condition)
      // the predicate is evaluated in independent jobs and whole files drop
      // on the first evaluation's word — a nondeterministic condition
      // (rand(), now()-derived exprs via the CLI's --where) could change a
      // row set no single evaluation ever selected. Reject up front, like
      // Delta-style engines do.
      require(filters.forall(_.deterministic),
        "DELETE WHERE requires a deterministic predicate; " +
          s"got: ${filters.filterNot(_.deterministic).mkString(", ")}")
      kept
    }

    /** Per-file MATCH counts over the live rows of `candidates`, and the
      * candidates holding at least one: stats are only necessary
      * conditions, so a candidate can hold none. Both sides compare through
      * PathNorm.canonical, so trailing-slash or relative table roots line up
      * with input_file_name()'s URI form; an unattributable matched file
      * (exotic path scheme) falls back to treating ALL candidates as hit —
      * sound, just less surgical. */
    private def matchCounts(candidates: Seq[SegmentMeta]): (Map[String, Long], Seq[SegmentMeta]) = {
      val perFile = matched(read(spark, candidates, ids = false))
        .groupBy(input_file_name().as("f")).count().collect()
        .map(r => PathNorm.canonical(r.getString(0)) -> r.getLong(1)).toMap
      val attributed = candidates.map(canonical(_)).toSet
      if (perFile.keys.exists(!attributed(_))) (perFile, candidates)
      else (perFile, candidates.filter(s => perFile.contains(canonical(s))))
    }

    /** Read a [[Keys]] match's key set (`in`, deduplicated by `key`) once
      * and return its row count. One collect of at most
      * [[MergeInto.BloomKeyCap]] + 1 keys decides: up to the cap it is
      * every key, and the match becomes the predicate `key IN (keys)`
      * ([[cond]]), pruned and matched like any other, so no plan of the
      * run joins; above it the keys stay distributed ([[large]]). NULL
      * keys never match: a table row with a NULL key is never hit. A set
      * with no non-null key gets no predicate (an IN of nothing folds
      * away, and a predicate that folds away keeps every segment). */
    private def keySet(in: DataFrame, key: String): Long = {
      val head = in.select(col(key)).limit(MergeInto.BloomKeyCap.toInt + 1).collect()
      if (head.length > MergeInto.BloomKeyCap) {
        large = Some(new Large(key, in.select(col(key))))
        in.count()
      } else {
        val keyType = in.schema(key).dataType
        val present = head.toSeq.map(_.get(0)).filter(_ != null)
        cond = Option.when(present.nonEmpty)(
          col(key).isin(present.map(k => Bridge.ofExpr(Literal.create(k, keyType))): _*))
        head.length
      }
    }

    /** More keys than [[MergeInto.BloomKeyCap]], left distributed: the
      * match is a keyed join Catalyst plans (broadcast or shuffle), and the
      * ranges are tested ([[within]]) where the keys are. Blooms cannot
      * testify about that many keys (see [[MergeInto.BloomKeyCap]]), so a
      * copy-on-write run refines the range hits with an exact distributed
      * semi-join of their key column ([[refineCandidatesExact]]): keys
      * never collect to the driver, and the single-column scan costs a
      * few % of the bytes the rewrite would spend on each file it excludes.
      * Merge-on-read skips it: its matched-row pass ([[morBase]]) is itself
      * a key-column scan of the candidates that attaches no DV to an
      * unmatched file, so the exact pass would read the same narrow bytes
      * twice. (An expected-yield guard that skipped the exact pass when a
      * uniform-key model predicted no pruning was tried and reverted:
      * insert-heavy merges carry many ABSENT keys that inflate the set
      * while being exactly what the pass prunes.) A table row with a NULL
      * key is never hit and survives [[anti]]. */
    private final class Large(key: String, set: DataFrame) {
      /** The rows of `df` whose key is in the set. */
      def semi(df: DataFrame): DataFrame = df.join(set, Seq(key), "left_semi")
      /** The rows of `df` whose key is not in the set. */
      def anti(df: DataFrame): DataFrame = df.join(set, Seq(key), "left_anti")
      /** `df` with a boolean `__m`: its row's key is in the set. */
      def hit(df: DataFrame): DataFrame =
        df.join(set.withColumn("__m", lit(true)), Seq(key), "left")
          .withColumn("__m", coalesce(col("__m"), lit(false)))

      /** Key candidates: the segments whose [min, max] can hold a key,
        * refined as above; stat-less segments are always candidates
        * (sound). Ranges are taken per stat type: a numeric key carries
        * L/D stats, and matching only strings would classify every segment
        * stat-less, so every micro-batch of a streaming upsert on a numeric
        * key would pay a full-table rewrite or scan. The refinement exists
        * because range stats are void after space-curve clustering:
        * interleaved keys make every file span the keyspace. */
      def candidates(live: Seq[SegmentMeta]): Seq[SegmentMeta] = {
        // stats and footers are keyed by the frozen PHYSICAL column name;
        // `key` is logical (identical unless the merge key was renamed)
        val physKey = table.colMap.getOrElse(key, key)
        val ranged = live.flatMap(seg => seg.stats.get(physKey).collect {
          case ColStats(Some(a: StatVal.S), Some(b: StatVal.S), _) => (seg, a, b)
          case ColStats(Some(a: StatVal.L), Some(b: StatVal.L), _) => (seg, a, b)
          case ColStats(Some(a: StatVal.D), Some(b: StatVal.D), _) => (seg, a, b)
        })
        val withStats = ranged.map(_._1.segmentId).toSet
        // the ranges (manifest-sized) travel with the task; each partition
        // of keys tests only the ranges no key of its has hit yet
        val rs = ranged.map { case (s, lo, hi) => (s.segmentId, lo, hi) }
        val hitIds = if (rs.isEmpty) Set.empty[String] else set.mapPartitions { ks =>
          var left = rs
          ks.foreach { r =>
            if (left.nonEmpty && !r.isNullAt(0)) {
              val k = StatVal.fromAny(r.get(0))
              left = left.filterNot { case (_, lo, hi) => within(lo, hi, k) }
            }
          }
          val missed = left.map(_._1).toSet
          rs.iterator.map(_._1).filterNot(missed)
        }(Encoders.STRING).distinct().collect().toSet
        val held =
          if (table.bloomKeyColumn.contains(physKey) && !mor && hitIds.nonEmpty)
            refineCandidatesExact(spark, table, set, key,
              ranged.map(_._1).filter(s => hitIds(s.segmentId)))
          else hitIds
        live.filter(s => held(s.segmentId) || !withStats(s.segmentId))
      }
    }
  }

  /** Whether key `k` may lie in a segment's key stats [`lo`, `hi`], in the
    * stats order ([[StatVal.cmp]]: unsigned UTF-8 for strings, the order
    * footers compute min/max in). A key the stats cannot order (None, or
    * another type) may: the segment stays a candidate. */
  private def within(lo: StatVal, hi: StatVal, k: Option[StatVal]): Boolean =
    k.forall(v => StatVal.cmp(lo, v).forall(_ <= 0) && StatVal.cmp(v, hi).forall(_ <= 0))

  /** Exact distributed candidate refinement for key sets too large for
    * footer blooms: semi-join the live rows of `segs`' key column
    * (single-column projected scan, input_file_name-tagged) against the
    * keys and return the segment ids of files that actually contain ≥ 1
    * key. Keys never collect to the driver; the only collect is the
    * distinct hit FILE list, bounded by the candidate count. Sound by
    * construction (zero false negatives — a file omitted here provably
    * holds no key) and, unlike blooms, zero false positives at any
    * key-set size. */
  private[graft] def refineCandidatesExact(spark: SparkSession, table: TsTable,
      keys: DataFrame, key: String, segs: Seq[SegmentMeta]): Set[String] = {
    val byPath = segs.map(s =>
      PathNorm.canonical(PathNorm.resolve(table.root, s.path)) -> s.segmentId).toMap
    table.read(spark, segs, table.state.tableMeta)
      .select(col(key), input_file_name().as("__file"))
      .join(keys, Seq(key), "left_semi")
      .select("__file").distinct().collect()
      .iterator.flatMap(r => byPath.get(PathNorm.canonical(r.getString(0))))
      .toSet
  }

  /** Bucket id of a row for the coverage recompute — the expression
    * staging computes coverage with ([[Txn.bucketOf]]); null ts -> null bucket,
    * which carries no coverage. Constant null for non-time-series tables. */
  private[maintain] def bucketExpr(table: TsTable): Column =
    table.timeSpec.fold(lit(null).cast("long"))(Txn.bucketOf)

  /** Candidate read for a MOR pass: `project` maps the candidates' live
    * rows, whose `_metadata` positions are physical, to the (__f, __i,
    * __m, __b) shape. A candidate already carrying a DV is read
    * live-rows-only, so new positions never overlap the existing bitmap
    * and survivor coverage is exact by construction. */
  private[maintain] def morBase(spark: SparkSession, table: TsTable,
                                candidates: Seq[SegmentMeta])
                               (project: DataFrame => DataFrame): DataFrame =
    // logical names: `project` carries user predicates / merge keys
    project(table.read(spark, candidates, table.state.tableMeta))

  /** The driver-side outcome of a MOR matched-row pass, already declared
    * on its [[graft.table.Txn]]: the DV upserts, the fully-matched
    * removals, and the matched-row count. */
  private[maintain] final case class MorPlan(
      upserts: Seq[SegmentMeta], removeIds: Seq[String], rowsMatched: Long)

  /** The distributed half of a MOR pass: aggregate `base` — columns (__f
    * file, __i position, __m matched, __b survivor bucket), already
    * live-row-filtered — into one DV bitmap and one survivor-coverage
    * bitmap per grazed file (positions arrive ascending within each scan
    * split, partials merge by file; the driver receives one run-length
    * bitmap per grazed file, never a row), write the sidecars through
    * `tx`, and declare the DV upserts and fully-matched removals on it
    * WITHOUT committing. None = no row matched. Each grazed file joins
    * `tx`'s conflict set under the DV it was read with, so the commit
    * aborts if a concurrent writer rewrote or re-DV'd it (its bitmap was
    * unioned against that DV). */
  private[maintain] def morCompute(spark: SparkSession, table: TsTable, tx: Txn,
                                   candidates: Seq[SegmentMeta],
                                   base: DataFrame): Option[MorPlan] = {
    import spark.implicits._
    // (file, dvPartial, covPartial, matches): one emit per (split, file)
    val perFile = base.as[(String, Long, Boolean, Option[Long])]
      .mapPartitions { it =>
        val dv = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
        val cov = mutable.HashMap.empty[String, mutable.HashSet[Int]]
        val matches = mutable.HashMap.empty[String, Long]
        it.foreach { case (f, i, m, b) =>
          if (m) {
            if (i > DeletionVectors.MaxRowsPerFile)
              throw new IllegalStateException(
                s"row position $i exceeds the DV position domain in $f")
            dv.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += i.toInt
            matches.update(f, matches.getOrElse(f, 0L) + 1L)
          } else b.foreach { bb =>
            if (bb > Int.MaxValue) throw BucketDomainOverflowException(bb)
            cov.getOrElseUpdate(f, mutable.HashSet.empty) += bb.toInt
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
    val removeIds = mutable.ArrayBuffer.empty[String]
    val upserts = mutable.ArrayBuffer.empty[SegmentMeta]
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
}
