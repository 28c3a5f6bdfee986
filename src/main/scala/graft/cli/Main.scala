package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto}
import graft.meta._
import graft.table.TsTable

/** spark-submit front end mirroring the reference CLI verbs
  * (timeseries-table-cli/src/main.rs:73-158: create / append / query)
  * plus the new maintenance verbs (compact / expire / merge) and the
  * coverage analytics. Output sink (--output/--format csv|jsonl) mirrors
  * storage/output.rs:117-141.
  *
  * Usage (all via spark-submit --class graft.cli.Main):
  *   create  --table ROOT (--time-column TS --bucket 1h [--timezone TZ]
  *            [--entity COL]... | --cluster-by c1,c2,c3 [--curve zorder|hilbert|lexico])
  *   append  --table ROOT --parquet FILE
  *   query   --table ROOT --sql SQL [--at-version V | --at-tag N |
  *            --at-timestamp ISO8601|EPOCH_MS]  (AS OF TIMESTAMP)
  *           [--with-row-ids]  (append _row_id/_row_commit; needs tracking)
  *           [--explain] [--timing]
  *           [--max-rows N] [--output PATH --format csv|jsonl] [--pager]
  *           [--param k=v]... [--arg v]...   ($1..$N bind to --arg in order)
  *   compact --table ROOT [--target-file-size BYTES] [--job-id ID]
  *           [--where "SQL predicate"]   (stats-scoped: only matching files)
  *           [--dv-debt-threshold R]     (materialize DVs at ≥ R masked; 0 = all)
  *           [--bin-parallelism K]       (concurrent bin rewrites; default 4)
  *   expire  --table ROOT --keep-from VERSION
  *   delete  --table ROOT --where "SQL predicate" [--mor]
  *           | --row-ids 1,2,3  (id-addressed MOR delete; needs tracking —
  *             never-rewritten files are masked with zero data reads)
  *           (--mor = merge-on-read: deletion-vector sidecars, no rewrite)
  *   update  --table ROOT --where "SQL predicate" --set col=EXPR [--set ...]
  *           [--mor]  (merge-on-read: DV-mask matched rows + append images)
  *   merge   --table ROOT --updates PARQUET [--key COL] [--delete] [--mor]
  *           | --by-row-id  (id-addressed upsert: updates carry `_row_id`,
  *             NULL inserts; in-place revision keeps identity; needs tracking)
  *           (--delete = WHEN MATCHED THEN DELETE: the parquet holds keys;
  *            --mor = merge-on-read upsert: DV-mask matched rows + append)
  *   clone   --table ROOT --target DEST [--at-version V]
  *           (shallow clone: one metadata commit references the source's
  *            data files in place — zero data bytes copied at any scale)
  *   restore --table ROOT --to-version V
  *   diff    --table ROOT --from V [--to V] [--key COL] [--max-rows N]
  *           [--output PATH --format csv|jsonl]
  *   changes --table ROOT --since V [--to V] [--max-rows N]
  *           [--output PATH --format csv|jsonl]  (writer-recorded change
  *            feed: rows + _change_type/_commit_version/_commit_timestamp)
  *   tag     --table ROOT [--name N [--version V] | --drop N]  (list if bare)
  *   branch  --table ROOT [--create N [--at V] | --publish N [--keep] |
  *           --drop N]  (list if bare; write-audit-publish: scope any
  *           append/query/compact/delete/update/merge/history/analyze to a
  *           branch with --branch N, then `branch --publish N` lands the
  *           audited writes on main as ONE atomic squash commit)
  *   alter   --table ROOT --add-column NAME:TYPE   (nullable; old rows NULL)
  *           | --drop-column NAME  (metadata-only; files keep bytes until
  *             the next compaction rewrites them without the column)
  *           | --add-check NAME:"SQL predicate"    (ingest quality gate)
  *           | --drop-check NAME
  *           | --cluster-by C1,C2,C3 [--curve zorder|hilbert|lexico|none]
  *             (metadata-only sort-order evolution; next compact re-clusters)
  *           | --rename-column OLD:NEW  (metadata-only column mapping; files
  *             keep the frozen physical name, scans alias to the new one)
  *           | --retype-column NAME:TYPE  (metadata-only WIDENING — int→long,
  *             int/float→double, →wider decimal; old files read up-converted)
  *           | --enable-cdf | --disable-cdf  (change data feed: mutating
  *             verbs record row-level changes readable via `changes`)
  *           | --enable-row-tracking | --disable-row-tracking  (stable
  *             `_row_id`/`_row_commit` per row, surviving every rewrite;
  *             read via `query --with-row-ids`)
  *   analyze --table ROOT [--target-file-size BYTES]
  *           (manifest-only health report: small-file/DV debt, clustering)
  *   files   --table ROOT [--branch N] [--max-rows N]
  *           [--output PATH --format csv|jsonl]   (per-file manifest rows)
  *   refs    --table ROOT   (tags + branches with base/head versions)
  *   history --table ROOT [--max-rows N]
  *   coverage --table ROOT --start ISO --end ISO
  *
  * A flag value that does not parse (a number, an instant) fails with an
  * IllegalArgumentException naming the flag and the value.
  */
object Main {

  private def opt(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }
  private def req(args: Array[String], name: String): String =
    opt(args, name).getOrElse(sys.error(s"missing --$name"))
  /** `--name`'s value through `parse`; a value it rejects fails naming the
    * flag and the value. */
  private def opt[T](args: Array[String], name: String, parse: String => T): Option[T] =
    opt(args, name).map { v =>
      try parse(v) catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"--$name has an invalid value: '$v'", e) }
    }
  private def req[T](args: Array[String], name: String, parse: String => T): T =
    opt(args, name, parse).getOrElse(sys.error(s"missing --$name"))
  private def flag(args: Array[String], name: String): Boolean =
    args.contains(s"--$name")
  private def multi(args: Array[String], name: String): Seq[String] =
    args.sliding(2).collect { case Array(k, v) if k == s"--$name" => v }.toSeq

  /** Open the table, optionally scoped to a branch (`--branch NAME`) — the
    * write/audit half of WAP from the CLI: every verb that takes this
    * helper (append/query/compact/delete/update/merge/history/analyze)
    * then runs against the branch log, invisible to main until
    * `branch --publish`. */
  private def openTable(args: Array[String]): TsTable = {
    val t = TsTable.open(req(args, "table"))
    opt(args, "branch").map(t.branch).getOrElse(t)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: create|append|query|compact|expire|merge|coverage ...")
    val spark = SparkSession.builder()
      .appName("graft-cli")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    graft.functions.GraftFunctions.register(spark) // kernels usable in --sql
    dispatch(spark, args)
  }

  private def dispatch(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "create" =>
      val root = req(args, "table")
      val kind = opt(args, "cluster-by") match {
        case Some(cols) =>
          TableKind.Clustered(ClusterSpec(cols.split(',').toSeq,
            opt(args, "curve").getOrElse("zorder")))
        case None =>
          TableKind.TimeSeries(TimeIndexSpec(
            req(args, "time-column"), multi(args, "entity"),
            TimeBucket.parse(req(args, "bucket")), opt(args, "timezone")))
      }
      TsTable.create(root, TableMeta(opt(args, "name").getOrElse("table"), kind, None, None))
      println(s"created table at $root")

    case "append" =>
      val t = openTable(args)
      val v = t.appendParquetFile(spark, req(args, "parquet"))
      println(s"appended; table at version $v")

    case "query" =>
      val t0 = System.nanoTime()
      val t = openTable(args)
      // --at-version / --at-tag / --at-timestamp pin a historical snapshot
      val scan = (opt(args, "at-version", _.toLong), opt(args, "at-tag"),
        opt(args, "at-timestamp")) match {
        case (Some(v), _, _) => t.scanAt(spark, v)
        case (_, Some(n), _) => t.scanAtTag(spark, n)
        case (_, _, Some(ts)) =>
          // epoch millis or any ISO-8601 instant (AS OF TIMESTAMP)
          t.scanAsOf(spark, TsTable.instantMillis("--at-timestamp", ts))
        case _ =>
          // --with-row-ids: current snapshot plus _row_id/_row_commit
          // (row tracking must be enabled; historical pins read plain)
          if (flag(args, "with-row-ids")) t.scanWithRowIds(spark) else t.scan(spark)
      }
      scan.createOrReplaceTempView("t")
      val named: Map[String, Any] = multi(args, "param").map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> (v: Any)
      }.toMap
      // parameterized queries per reference R12 (python lib.rs:752-830):
      // named :k placeholders via --param k=v, positional $1..$N via --arg
      // (rewritten to named binds by a quote-aware scanner, matching the
      // reference's positional style) — both through Spark 3.4+ sql(args=)
      val positional = multi(args, "arg")
      val (sqlText, params) =
        if (positional.isEmpty) (req(args, "sql"), named)
        else {
          val binds = positional.zipWithIndex.map { case (v, i) => s"__p${i + 1}" -> (v: Any) }
          (rewritePositional(req(args, "sql"), positional.size), named ++ binds)
        }
      val df = spark.sql(sqlText, params)
      if (flag(args, "explain")) df.explain("formatted")
      else output(df, opt(args, "output"), opt(args, "format").getOrElse("csv"),
        opt(args, "max-rows", _.toInt), pager = flag(args, "pager"))
      if (flag(args, "timing"))
        println(f"time: ${(System.nanoTime() - t0) / 1e9}%.3f s")

    case "compact" =>
      val t = openTable(args)
      val rep = Compaction.run(spark, t,
        targetFileSize = opt(args, "target-file-size", _.toLong).getOrElse(512L * 1024 * 1024),
        jobId = opt(args, "job-id").getOrElse(java.util.UUID.randomUUID().toString.take(8)),
        where = opt(args, "where").map(org.apache.spark.sql.functions.expr),
        dvDebtThreshold = opt(args, "dv-debt-threshold", _.toDouble)
          .getOrElse(Compaction.DefaultDvDebtThreshold),
        binParallelism = opt(args, "bin-parallelism", _.toInt)
          .getOrElse(Compaction.DefaultBinParallelism))
      println(s"compacted: bins=${rep.binsExecuted}/${rep.binsPlanned} rows=${rep.rowsRewritten} " +
        s"filesIn=${rep.filesIn} filesOut=${rep.filesOut} ms=${rep.millis} jobId=${rep.jobId}")

    case "expire" =>
      val t = TsTable.open(req(args, "table"))
      val rep = Expire.expire(t, req(args, "keep-from", _.toLong))
      println(s"expired: dataFiles=${rep.dataFilesDeleted} bytes=${rep.bytesDeleted} " +
        s"commitsDropped=${rep.commitsDropped}")

    case "delete" =>
      val t = openTable(args)
      val rep = opt(args, "row-ids", _.split(',').map(_.trim.toLong).toSeq) match {
        case Some(ids) =>
          // id-addressed MOR delete: positional files pay zero data reads
          import spark.implicits._
          graft.maintain.RowIdOps.deleteByRowIds(spark, t, ids.toDF("_row_id"))
        case None =>
          val cond = org.apache.spark.sql.functions.expr(req(args, "where"))
          if (flag(args, "mor")) DeleteWhere.deleteMor(spark, t, cond)
          else DeleteWhere.delete(spark, t, cond)
      }
      println(s"deleted: rows=${rep.rowsDeleted} candidates=${rep.candidates} " +
        s"kept=${rep.filesKept} rewritten=${rep.filesOut} dv=${rep.dvAttached} -> v${rep.version}")

    case "update" =>
      val t = openTable(args)
      val sets = multi(args, "set").map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> org.apache.spark.sql.functions.expr(v)
      }.toMap
      val cond = org.apache.spark.sql.functions.expr(req(args, "where"))
      val rep =
        if (flag(args, "mor")) graft.maintain.UpdateWhere.updateMor(spark, t, cond, sets)
        else graft.maintain.UpdateWhere.update(spark, t, cond, sets)
      println(s"updated: rows=${rep.rowsUpdated} candidates=${rep.candidates} " +
        s"kept=${rep.filesKept} rewritten=${rep.filesOut} -> v${rep.version}")

    case "merge" =>
      val t = openTable(args)
      val updates = spark.read.parquet(req(args, "updates"))
      val key = opt(args, "key").getOrElse("doc_id")
      if (flag(args, "delete")) {
        val rep = MergeInto.mergeDelete(spark, t, updates, key)
        println(s"merge-deleted: rows=${rep.rowsDeleted} candidates=${rep.candidates} " +
          s"dv=${rep.dvAttached} -> v${rep.version}")
      } else {
        val rep =
          if (flag(args, "by-row-id"))
            // id-addressed upsert: updates carry a `_row_id` column
            // (NULL = insert); needs row tracking
            graft.maintain.RowIdOps.upsertByRowIds(spark, t, updates)
          else if (flag(args, "mor")) MergeInto.mergeMor(spark, t, updates, key = key)
          else MergeInto.merge(spark, t, updates, key = key)
        println(s"merged: updated=${rep.updated} inserted=${rep.inserted} " +
          s"candidates=${rep.candidates} -> v${rep.version}")
      }

    case "restore" =>
      val t = TsTable.open(req(args, "table"))
      val rep = graft.maintain.Restore.restore(t, req(args, "to-version", _.toLong))
      println(s"restored: to=v${rep.restoredTo} added=${rep.filesAdded} " +
        s"removed=${rep.filesRemoved} rows=${rep.rowsAfter} -> v${rep.version}")

    case "diff" =>
      val t = TsTable.open(req(args, "table"))
      val from = req(args, "from", _.toLong)
      val to = opt(args, "to", _.toLong).getOrElse { t.refresh(); t.version }
      val df = graft.maintain.SnapshotDiff.diff(spark, t, from, to,
        opt(args, "key").getOrElse("doc_id"))
      output(df, opt(args, "output"), opt(args, "format").getOrElse("csv"),
        opt(args, "max-rows", _.toInt))

    case "changes" =>
      // writer-recorded change feed (vs `diff`'s state reconstruction):
      // commits (--since, --to], rows tagged _change_type/_commit_version
      val t = TsTable.open(req(args, "table"))
      val since = req(args, "since", _.toLong)
      val to = opt(args, "to", _.toLong).getOrElse { t.refresh(); t.version }
      val df = graft.maintain.ChangeFeed.read(spark, t, since, to)
      output(df, opt(args, "output"), opt(args, "format").getOrElse("csv"),
        opt(args, "max-rows", _.toInt))

    case "shell" =>
      // interactive REPL (reference shell.rs); --table ROOT opens tables up
      // front, names derived from the directory (or ROOT=name via .open AS)
      // derive view names with the same rule as .open; disambiguate
      // colliding directory names with a numeric suffix instead of
      // silently dropping all but the last
      val preload = multi(args, "table").foldLeft(Vector.empty[(String, String)]) {
        case (acc, root) =>
          val base = Shell.viewNameFor(root)
          val taken = acc.map(_._1).toSet
          val name = if (!taken(base)) base
            else Iterator.from(2).map(i => s"${base}_$i").find(!taken(_)).get
          acc :+ (name -> root)
      }.toMap
      Shell.repl(spark,
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        System.out, preload)

    case "alter" =>
      val t = openTable(args)
      (opt(args, "add-column"), opt(args, "drop-column"),
        opt(args, "add-check"), opt(args, "drop-check"),
        opt(args, "cluster-by"), opt(args, "rename-column")) match {
        case (Some(spec), _, _, _, _, _) =>
          val Array(cn, ct) = spec.split(":", 2)
          val v = t.addColumn(cn.trim,
            org.apache.spark.sql.types.DataType.fromDDL(ct.trim))
          println(s"added column ${cn.trim} (${ct.trim}) -> v$v")
        case (_, Some(cn), _, _, _, _) =>
          val v = t.dropColumn(cn.trim)
          println(s"dropped column ${cn.trim} -> v$v")
        case (_, _, Some(spec), _, _, _) =>
          val Array(cn, pred) = spec.split(":", 2)
          val v = t.addCheck(spark, cn.trim, pred.trim)
          println(s"added check ${cn.trim} (${pred.trim}) -> v$v")
        case (_, _, _, Some(cn), _, _) =>
          val v = t.dropCheck(cn.trim)
          println(s"dropped check ${cn.trim} -> v$v")
        case (_, _, _, _, Some(cols), _) =>
          // curve defaults to the table's current one; metadata-only —
          // the next `compact` re-clusters under the new spec
          val curve = opt(args, "curve")
            .orElse(t.clusterSpec.map(_.curve)).getOrElse("zorder")
          val v = t.alterClusterBy(cols.split(',').toSeq.map(_.trim), curve)
          println(s"cluster spec -> ($cols) $curve -> v$v")
        case (_, _, _, _, _, Some(spec)) =>
          val Array(from, to) = spec.split(":", 2)
          val v = t.renameColumn(from.trim, to.trim)
          println(s"renamed column ${from.trim} -> ${to.trim} -> v$v")
        case _ => opt(args, "retype-column") match {
          case Some(spec) =>
            val Array(cn, ct) = spec.split(":", 2)
            val v = t.alterColumnType(cn.trim,
              org.apache.spark.sql.types.DataType.fromDDL(ct.trim))
            println(s"widened column ${cn.trim} to ${ct.trim} -> v$v")
          case None if flag(args, "enable-cdf") =>
            println(s"change data feed enabled -> v${t.enableCdf()}")
          case None if flag(args, "disable-cdf") =>
            println(s"change data feed disabled -> v${t.disableCdf()}")
          case None if flag(args, "enable-row-tracking") =>
            println(s"row tracking enabled -> v${t.enableRowTracking()}")
          case None if flag(args, "disable-row-tracking") =>
            println(s"row tracking disabled -> v${t.disableRowTracking()}")
          case None => sys.error(
            "alter needs --add-column, --drop-column, --add-check, --drop-check, " +
              "--cluster-by [--curve], --rename-column OLD:NEW, " +
              "--retype-column NAME:TYPE, --enable-cdf/--disable-cdf, " +
              "or --enable-row-tracking/--disable-row-tracking")
        }
      }

    case "clone" =>
      val t = openTable(args)
      val dest = req(args, "target")
      val at = opt(args, "at-version", _.toLong)
      val c = t.cloneTo(dest, at)
      println(s"cloned v${at.getOrElse(t.version)} -> $dest " +
        s"(v${c.version}, ${c.state.liveSegments.size} referenced files, zero data copied)")

    case "tag" =>
      val t = TsTable.open(req(args, "table"))
      (opt(args, "name"), opt(args, "drop")) match {
        case (Some(n), _) =>
          val v = t.setTag(n, opt(args, "version", _.toLong))
          println(s"tagged '${n}' -> v${t.tags(n)} (commit v$v)")
        case (_, Some(n)) =>
          t.dropTag(n); println(s"dropped tag '$n'")
        case _ =>
          t.refresh()
          t.tags.toSeq.sortBy(_._1).foreach { case (n, v) => println(s"$n\tv$v") }
      }

    case "branch" =>
      val t = TsTable.open(req(args, "table"))
      (opt(args, "create"), opt(args, "publish"), opt(args, "drop")) match {
        case (Some(n), _, _) =>
          val b = t.createBranch(n, opt(args, "at", _.toLong))
          println(s"created branch '$n' at v${b.version}")
        case (_, Some(n), _) =>
          val v = t.publishBranch(n, dropAfter = !flag(args, "keep"))
          println(s"published branch '$n' -> v$v" +
            (if (flag(args, "keep")) " (branch kept)" else ""))
        case (_, _, Some(n)) =>
          if (t.dropBranch(n)) println(s"dropped branch '$n'")
          else println(s"no such branch: '$n'")
        case _ =>
          t.branches.foreach { n =>
            val b = t.branch(n)
            println(s"$n\tbase=v${graft.log.BranchLog.open(t.store.tableRoot, n).base}\thead=v${b.version}")
          }
      }

    case "analyze" =>
      val t = openTable(args)
      println(graft.maintain.Analyze.analyze(t,
        opt(args, "target-file-size", _.toLong).getOrElse(512L * 1024 * 1024)).render)

    case "files" =>
      val t = openTable(args)
      // stats map -> JSON so the csv sink can carry it
      val df = t.files(spark).orderBy("path")
        .withColumn("stats", org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.col("stats")))
      output(df, opt(args, "output"), opt(args, "format").getOrElse("csv"),
        opt(args, "max-rows", _.toInt))

    case "refs" =>
      val t = TsTable.open(req(args, "table"))
      print(org.apache.spark.sql.graft.Bridge.showString(
        t.refs(spark).orderBy("type", "name"), 1000, truncate = 0))

    case "history" =>
      val t = openTable(args)
      val n = opt(args, "max-rows", _.toInt).getOrElse(20)
      print(org.apache.spark.sql.graft.Bridge.showString(
        t.history(spark, limit = math.max(n, 1)), n, truncate = 0))

    case "coverage" =>
      val t = TsTable.open(req(args, "table"))
      val us = (flag: String) => TsTable.instantMillis(s"--$flag", req(args, flag)) * 1000L
      val (a, b) = (us("start"), us("end"))
      println(s"ratio=${t.coverageRatioForRange(a, b)} maxGap=${t.maxGapLenForRange(a, b)} " +
        s"lastWindow=${t.lastFullyCoveredWindow(b, opt(args, "window", _.toLong).getOrElse(1L))}")

    case other => sys.error(s"unknown verb '$other'")
  }

  /** Rewrite positional $1..$N markers to named :__pN binds. Quote-aware
    * like the reference's shell tokenizer (shell.rs:401-480): $N inside
    * single-quoted strings, double-quoted identifiers, or line/block
    * comments is left untouched. */
  private[graft] def rewritePositional(sql: String, n: Int): String = {
    val out = new StringBuilder(sql.length + 8)
    var i = 0
    var state: Char = ' '
    // shared scanner with Shell (backslash escapes in strings, backtick
    // identifiers, comments) — $N only rewrites in code state, so `col$1`
    // and '$1 literal' pass through untouched
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (state == ' ' && c == '$' && i + 1 < sql.length && sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        val idx = sql.substring(i + 1, j).toInt
        require(idx >= 1 && idx <= n, s"positional parameter $$$idx out of range (have $n --arg)")
        out ++= s":__p$idx"; i = j
      } else {
        val (s2, adv) = Shell.scanStep(sql, i, state)
        out ++= sql.substring(i, i + adv)
        state = s2; i += adv
      }
    }
    out.toString
  }

  /** CSV/JSONL export sink (reference storage/output.rs:117-141) or
    * truncated stdout table; --pager pipes the rendered table through
    * `less -S` (reference main.rs:127-129, query.rs:180-211). */
  private def output(df: DataFrame, path: Option[String], format: String,
                     maxRows: Option[Int], pager: Boolean = false): Unit = path match {
    case Some(p) => format match {
      case "csv"   => df.coalesce(1).write.option("header", "true").mode("overwrite").csv(p)
      case "jsonl" => df.coalesce(1).write.mode("overwrite").json(p)
      case f       => sys.error(s"unknown format '$f'")
    }
    case None =>
      if (pager) Shell.pageOutput(
        org.apache.spark.sql.graft.Bridge.showString(df, maxRows.getOrElse(20), truncate = 0),
        System.out, Seq("less", "-S"))
      else df.show(maxRows.getOrElse(20), truncate = false)
  }
}
