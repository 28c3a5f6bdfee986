package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.coverage.BucketMath
import graft.maintain.{Compaction, Expire, MergeInto}
import graft.meta._
import graft.ops.{Ann, Dedup, Multimodal, TextOps}
import graft.table.TsTable

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries q01–q09 exercise the relational surface the reference delegates
  * to DataFusion and we delegate to Catalyst (SURVEY.md §2.4 R1–R16).
  * q10–q14 run the table-format engine itself (append → compaction →
  * Z-order → MERGE → expire → time travel → coverage) with DuckDB-checkable
  * output. q20+ are the training-pipeline operators (dedup, ANN, text,
  * multimodal). Column names are aliased identically in Spark and oracle
  * SQL; double aggregations use the exact "cents" pattern
  * (sum of floor(x*100) as BIGINT) so cross-engine hashes match.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Round-robin the rows of a single-file fixture table across the
    * cluster before per-row heavy kernels: the testdata tables are ONE
    * parquet file ⇒ one input split ⇒ one task (guide §2.5, input skew:
    * "one huge unsplittable file — repartition immediately after the
    * read"). Measured per query (warm interleaved minima; the one-off
    * harness is gone, results in OPTIMIZATION_r06.md §3):
    * pays ONLY where per-row compute dominates the added exchange — q22's
    * per-word MD5 (2.17→1.93 s). For q21/q24/q25/q38 the kernel work is
    * too cheap at sf0.1 and the exchange was pure overhead (q25 0.43→0.84,
    * q38 0.52→0.83), so those inputs stay unrepartitioned.
    * Value-deterministic ops only — results never depend on placement. */
  private def par(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Temp table roots created by the engine-path queries (q02/q10–q18/q39)
    * must OUTLIVE the lazy DataFrame each query returns — the scan reads
    * the root only when the caller materializes it — so they cannot be
    * deleted inside the query body. Every root is registered here instead
    * and reclaimed by one JVM shutdown hook, so repeated Verify/Bench
    * invocations no longer accumulate dataset-sized dirs in /tmp. */
  private object TempRoots {
    private val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = roots.iterator()
      while (it.hasNext) {
        try PathNorm.deleteTree(java.nio.file.Paths.get(it.next()))
        catch { case _: Exception => () }
      }
    }, "graft-temproot-cleanup"))
    def create(prefix: String): String = {
      val p = Files.createTempDirectory(prefix).toString
      roots.add(p)
      p
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_maintain_scan")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------ //
  // Engine-table helpers: a token table derived from `documents` with
  // pure-arithmetic tokens, so DuckDB can recompute token aggregates.
  // tokens[i] = (doc_id*31 + i) % 50257, n_tok = 64 + doc_id % 1985.
  // ------------------------------------------------------------------ //

  // Codegen'd kernel columns (functions/TokenKernels.scala). The SQL HOF
  // forms (`transform(sequence(...))`, `aggregate(tokens, ...)`) are
  // CodegenFallback — every element pays an interpreted boxed lambda call.
  // The kernels compute the IDENTICAL values (TokenKernelSpec asserts
  // hash-equality for tok_sum; EntryKernelParitySpec for token_seq /
  // tokens_csv), so every oracle gate is unchanged — only the plan is.
  private def tokenSeqCol(id0: org.apache.spark.sql.Column, factor: Int) = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(graft.functions.TokenSeq(toExpr(id0), factor))
  }
  private def tokSumCol(tokens: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(graft.functions.TokSum(toExpr(tokens)))
  }
  private def tokensCsvCol(tokens: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(graft.functions.TokensCsv(toExpr(tokens)))
  }

  /** Narrow pre-generation projection: everything but the token array.
    * Token synthesis is deferred past a round-robin repartition so it (a)
    * runs at cluster parallelism instead of the source's single input
    * split and (b) never rides a shuffle — the exchange moves ~30-byte
    * rows, the ~4 KB arrays are generated on the receiving side
    * (guide §2.3 "shuffle keys and metadata instead of payloads"). */
  private def tokenNarrow(s: SparkSession, dir: String, idOffset: Long): DataFrame =
    tbl(s, dir, "documents").select(
      (col("doc_id") + lit(idOffset)).as("id0"), col("source"))
      .select(
        format_string("doc-%012d", col("id0")).as("doc_id"),
        col("id0"),
        expr("CAST(64 + id0 % 1985 AS INT)").as("n_tok"),
        col("source"))

  private def tokenProject(df: DataFrame, factor: Int): DataFrame =
    df.select(
      col("doc_id"),
      tokenSeqCol(col("id0"), factor).as("tokens"),
      col("n_tok"),
      col("source"))

  private def tokenDf(s: SparkSession, dir: String, factor: Int = 31,
                      idOffset: Long = 0L): DataFrame =
    tokenProject(
      tokenNarrow(s, dir, idOffset).repartition(s.sparkContext.defaultParallelism),
      factor)

  private def buildTokenTable(s: SparkSession, dir: String, curve: String = "zorder",
                              nFiles: Int = 32, filter: Option[String] = None): TsTable = {
    val root = TempRoots.create("graft-engine")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), curve)), None, None))
    // pathological small files, but the repartition to them is NARROW:
    // filter + shuffle run on pre-generation rows, tokens materialize
    // post-exchange on the write side
    val narrow = tokenNarrow(s, dir, 0L)
    t.append(tokenProject(
      filter.fold(narrow)(narrow.where(_)).repartition(nFiles), 31))
    t
  }

  /** Reference HOF form of the token-sum projection — the kernels above
    * replaced it in every query plan; EntryKernelParitySpec holds the two
    * hash-identical so the oracle gates can never drift. */
  private[graft] val tokSum = "aggregate(tokens, 0L, (acc, x) -> acc + CAST(x AS BIGINT))"

  /** Closed-form oracle for sum(tokens): the (a+i) % m sequence wraps at
    * most once because n_tok < m. a = (id*factor) % m. */
  private def tokSumOracle(id: String, factor: Int): String =
    s"(64+($id%1985)) * (($id*$factor)%50257) + (64+($id%1985))*((64+($id%1985))-1)//2" +
    s" - 50257*greatest(0, ($id*$factor)%50257 + (64+($id%1985)) - 50257)"

  // ------------------------------------------------------------------ //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational surface (Catalyst delegation, ref §2.4) ----------
    "q01_agg" -> ((s, dir) => tbl(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("rev_c"))),

    "q03_join" -> ((s, dir) => tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "orders")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_c"))),

    "q04_window" -> ((s, dir) => tbl(s, dir, "events")
      .withColumn("ma", round(avg(col("value")).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, 0)), 4))
      .select("event_id", "user_id", "ma")),

    "q05_date_trunc" -> ((s, dir) => tbl(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sv_c"))),

    "q06_topk" -> ((s, dir) => tbl(s, dir, "events")
      .orderBy(col("value").desc, col("event_id"))
      .select("event_id", "user_id", "value").limit(100)),

    "q07_filtered_agg" -> ((s, dir) => tbl(s, dir, "lineitem")
      .where(col("l_quantity") > 25)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("s_c"))),

    "q08_3way_join" -> ((s, dir) => tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_c"))),

    "q09_anti_join" -> ((s, dir) => tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))),

    // ---- the engine itself -------------------------------------------
    // time-range scan THROUGH the table format: create → append (stats +
    // coverage + commit) → scanRange (file pruning + residual filter)
    "q02_range_scan" -> ((s, dir) => {
      val root = TempRoots.create("graft-ev")
      val t = TsTable.create(root, TableMeta("events",
        TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1h"), None)), None, None))
      t.append(tbl(s, dir, "events").repartition(8))
      val us = (d: String) => java.time.Instant.parse(d).toEpochMilli * 1000L
      t.scanRange(s, us("2024-01-05T00:00:00Z"), us("2024-01-12T00:00:00Z"))
        .select("event_id", "user_id", "event_type", "value")
    }),

    // full maintenance pass: pathological small files → bin-packed,
    // Z-ordered compaction → scan with token integrity checks. tok_md5 is
    // the north rule's per-row invariant VERBATIM — exact token-ARRAY
    // equality (order + values), not merely a sum that a sum-preserving
    // corruption could slip past
    "q10_maintain_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"),
        md5(tokensCsvCol(col("tokens")).cast("binary")).as("tok_md5"))
    }),

    // the same maintenance pass over the HILBERT layout: identical data,
    // different space-filling curve — full-path gate coverage of the
    // Hilbert encoder (clustering changes layout, never content, so the
    // q10 oracle applies verbatim)
    "q39_hilbert_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir, curve = "hilbert")
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // MERGE INTO: revise every doc_id%10==0 (factor-37 tokens), insert
    // brand-new ids (offset 10^7) for doc_id%97==0; untouched rows must
    // remain byte-identical — all visible to the oracle via closed forms
    "q11_merge_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      val updates = tokenDf(s, dir, factor = 37).where("CAST(substring(doc_id, 5) AS BIGINT) % 10 = 0")
      val inserts = tokenDf(s, dir, factor = 31, idOffset = 10000000L)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 97 = 10000000 % 97")
      MergeInto.merge(s, t, updates.unionByName(inserts))
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"), tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // DELETE WHERE through the engine: compact+cluster, then predicate
    // delete (stats-pruned candidates, copy-on-write swap) — survivors
    // and their token arrays must match the oracle's closed form
    "q15_delete_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.DeleteWhere.delete(s, t, col("n_tok").between(200, 400))
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // merge-on-read DELETE (deletion vectors): same build as q15, but
    // TWO successive MOR deletes attach + union position bitmaps instead
    // of rewriting files, and the scan must read THROUGH the DVs (no
    // materializing compaction runs) — survivors and token sums match the
    // same closed-form oracle shape
    "q53_dv_delete_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok").between(200, 400))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") < 100) // non-empty at every sf
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // merge-on-read MERGE: identical inputs and oracle as q11, but the
    // matched old rows are masked with deletion vectors and the update
    // set lands as new clustered segments in the SAME commit — the scan
    // must read through the DVs and still reproduce q11's closed forms
    "q58_merge_mor_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      val updates = tokenDf(s, dir, factor = 37).where("CAST(substring(doc_id, 5) AS BIGINT) % 10 = 0")
      val inserts = tokenDf(s, dir, factor = 31, idOffset = 10000000L)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 97 = 10000000 % 97")
      MergeInto.mergeMor(s, t, updates.unionByName(inserts))
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"), tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // UPDATE WHERE through the engine: compact+cluster, then predicate
    // update (stats-pruned candidates, copy-on-write swap) — matched rows
    // take the SET expressions evaluated over their OLD values
    // (simultaneous assignment), unmatched rows pass through unchanged
    "q54_update_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.UpdateWhere.update(s, t, col("n_tok").between(200, 400),
        Map("source" -> concat(col("source"), lit("-upd")),
            "n_tok" -> (col("n_tok") + 1000)))
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // merge-on-read UPDATE: same inputs and oracle as q54, but matched
    // rows are DV-masked and their updated images appended in one commit;
    // the scan reads through the DVs and must reproduce q54's closed form
    "q59_update_mor_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.UpdateWhere.updateMor(s, t, col("n_tok").between(200, 400),
        Map("source" -> concat(col("source"), lit("-upd")),
            "n_tok" -> (col("n_tok") + 1000)))
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // RESTORE to an earlier version ACROSS an append and a merge-on-read
    // delete: the rollback commit swaps the live set back metadata-only
    // (DV upserts reverted to their DV-free originals), so the scan must
    // equal the pinned snapshot exactly
    "q55_restore_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      val pinned = t.version
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") < 500)
      graft.maintain.Restore.restore(t, pinned)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // MERGE … WHEN MATCHED THEN DELETE: delete-by-key through the merge
    // candidate selection (stats ranges + footer blooms) and the
    // merge-on-read DV attach — the governance "forget these doc ids" verb
    "q56_merge_delete" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      val victims = tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 7 = 0").select("doc_id")
      MergeInto.mergeDelete(s, t, victims)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // snapshot diff (change data feed): v1 = evens; then odd-id appends,
    // a factor-37 re-tokenization MERGE of %10==0, and a MOR range delete
    // — the diff must net composition (updated-then-deleted ⇒ one delete)
    // and emit update pre/post images with the right token arrays
    "q57_snapshot_diff" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      val v1 = t.version
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      MergeInto.merge(s, t, tokenDf(s, dir, factor = 37)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 10 = 0"))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok").between(200, 400))
      graft.maintain.SnapshotDiff.diff(s, t, v1, t.version, "doc_id")
        .select(col("_change_type"), col("doc_id"), col("source"), col("n_tok"),
          tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // tags: a named snapshot pinned BEFORE an append, a MOR delete AND a
    // full snapshot expiration must still replay exactly — expire
    // checkpoints the tagged version and keeps its files while dropping
    // the rest of the sub-watermark history
    "q62_tag_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.setTag("golden")
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") < 500)
      graft.maintain.Expire.expire(t, t.version)
      t.scanAtTag(s, "golden").select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // write-audit-publish: evens committed on main; a BAD branch (odd ids
    // with out-of-bounds n_tok) is rejected by the CHECK at its branch
    // append and dropped; the GOOD branch lands the odd half invisibly
    // (main must still scan evens-only mid-flight) and publishes as ONE
    // atomic squash commit — the final scan must equal ALL documents, and
    // any isolation leak (odd rows visible early, bad rows ever visible,
    // lost evens) hash-mismatches against the closed form
    "q64_branch_wap" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.addCheck(s, "tok_bounds", "n_tok BETWEEN 64 AND 2048")
      val evens = t.scan(s).count()

      val bad = t.createBranch("wap-bad")
      try bad.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumn("n_tok", lit(-7)).repartition(2))
      catch { case _: graft.table.CheckViolationException => () }
      t.dropBranch("wap-bad")

      val good = t.createBranch("wap-good")
      good.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      t.refresh()
      require(t.scan(s).count() == evens,
        "branch isolation broken: main saw unpublished branch rows")
      t.publishBranch("wap-good")
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // DROP COLUMN: metadata-only narrowing — old files keep the column's
    // bytes but every scan hides it at once; post-drop appends carry the
    // narrowed schema and a compaction rewrite (mixed old/new footers)
    // must neither resurrect the column nor choke on its absence. Result
    // = canonical 4-column shape over all three row sets
    "q66_drop_column" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.addColumn("quality", org.apache.spark.sql.types.IntegerType)
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumn("quality",
          expr("CAST(CAST(substring(doc_id, 5) AS BIGINT) % 100 AS INT)"))
        .repartition(4))
      t.dropColumn("quality")
      t.append(tokenDf(s, dir, factor = 31, idOffset = 10000000L)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 97 = 10000000 % 97")
        .repartition(2))
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // cluster-spec evolution (sort-order evolution): evens are clustered
    // under the creation spec, then ALTER CLUSTER BY re-keys the table
    // (metadata-only), odds land, and a second compaction with a larger
    // target re-clusters EVERYTHING under the new spec/curve. Every row
    // must survive both re-clusterings byte-identically — any row lost,
    // duplicated, or token-mutated by the curve swap hash-mismatches
    "q67_cluster_evolution" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      Compaction.run(s, t, targetFileSize = 4L * 1024 * 1024)
      t.alterClusterBy(Seq("n_tok", "doc_id", "source"), "hilbert")
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      // larger target ⇒ the first pass's outputs are small again ⇒ the
      // old-spec files are re-clustered too, not just the fresh odds
      Compaction.run(s, t, targetFileSize = 16L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // RENAME COLUMN (column mapping): evens land under the original name,
    // the rename is one metadata commit (files keep the frozen physical
    // name), odds land under the NEW logical name, a MOR delete filters
    // through the alias projection, and the compaction rewrite mixes
    // pre-/post-rename files. Any mapping slip (NULL-filled renamed
    // column, resurrected name, wrong rows deleted) hash-mismatches
    "q68_rename_column" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.renameColumn("tokens", "token_ids")
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumnRenamed("tokens", "token_ids").repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") > 1500)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("token_ids")).as("tok_sum"))
    }),

    // AS OF TIMESTAMP time travel: evens committed first, the commit's
    // recorded wall-clock captured, odds appended on a strictly later
    // millisecond — the as-of scan at the captured instant must resolve
    // to the evens-only snapshot (a boundary slip to the later version
    // doubles the rows; timestamp→version off-by-one hash-mismatches)
    "q69_time_travel_ts" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      val ts0 = t.store.readCommit(t.store.currentVersion()).timestampMillis
      // the captured instant must strictly precede the next commit's stamp
      while (System.currentTimeMillis() <= ts0) Thread.sleep(1)
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      t.scanAsOf(s, ts0).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // SHALLOW CLONE: evens committed to the SOURCE, the clone references
    // them in place (zero data copies), odds appended to the CLONE only,
    // a MOR delete masks rows across external+local files, and compaction
    // folds everything into clone-owned files. Any slip (clone reading
    // source writes, delete leaking to the source, external refs lost in
    // the rewrite) changes the row set or the aggregate
    "q70_shallow_clone" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      val c = t.cloneTo(TempRoots.create("graft-clone") + "/t")
      c.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, c, col("n_tok") > 1500)
      Compaction.run(s, c, targetFileSize = 8L * 1024 * 1024)
      // the source must still hold exactly the undeleted evens — fold its
      // row count into the result so the gate also pins non-interference
      val srcRows = t.scan(s).count()
      c.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"), lit(srcRows).as("src_rows"))
    }),

    // ALTER COLUMN TYPE (widening): evens land as INT n_tok, the widen to
    // BIGINT is one metadata commit (old files keep INT32 pages and read
    // up-converted), odds append with the new type, a MOR delete filters
    // across both file eras, and compaction rewrites mixed-width inputs.
    // A widening slip (old files misread, filter compiled against the
    // wrong width, rewrite narrowing back) changes values or the row set
    "q71_widen_column" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.alterColumnType("n_tok", org.apache.spark.sql.types.LongType)
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumn("n_tok", col("n_tok").cast("long")).repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") > 1500L)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // CHANGE DATA FEED: evens are the pre-feed snapshot, then — with the
    // feed on — odds append (insert synthesis from the commit's own
    // segments, no sidecar), a MOR delete and a CoW UPDATE write their
    // row-image sidecars, and a compaction rewrite rides silently under
    // its DataNeutral marker. The gate replays the WHOLE recorded feed:
    // any slip (a change type misattributed, a pre/post image wrong, the
    // rewrite leaking as phantom inserts, a record lost or duplicated)
    // changes the row set or the aggregate
    "q72_change_feed" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.enableCdf()
      val v0 = t.version
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") > 1500)
      graft.maintain.UpdateWhere.update(s, t, col("n_tok") <= 100,
        Map("source" -> lit("patched")))
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.ChangeFeed.read(s, t, v0, t.version)
        .select(col("_change_type"), col("doc_id"), col("source"), col("n_tok"),
          tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // ROW TRACKING: two single-sorted-file appends make the id assignment
    // a closed form (rank by doc_id within each append), then a compaction
    // rewrite (ids must MATERIALIZE and survive the curve re-sort), a MOR
    // delete (survivor ids untouched) and a CoW UPDATE (touched rows keep
    // their id, bump _row_commit; passthrough rows keep both). Any slip
    // (an id reminted, a commit-version misattributed, backfill order
    // drift) changes row_id or commit_kind and hash-mismatches
    "q73_row_tracking" -> ((s, dir) => {
      val root = TempRoots.create("graft-engine")
      val t = TsTable.create(root, TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")),
        None, None))
      t.enableRowTracking()
      val df = tokenDf(s, dir)
      t.append(df.where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0")
        .repartition(1).sortWithinPartitions("doc_id"))
      val vE = t.version
      t.append(df.where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .repartition(1).sortWithinPartitions("doc_id"))
      val vO = t.version
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      graft.maintain.DeleteWhere.deleteMor(s, t, col("n_tok") > 1500)
      graft.maintain.UpdateWhere.update(s, t, col("n_tok") <= 100,
        Map("source" -> lit("patched")))
      val vU = t.version
      t.scanWithRowIds(s).select(col("doc_id"), col("source"), col("n_tok"),
        col("_row_id").as("row_id"),
        when(col("_row_commit") === vU, "updated")
          .when(col("_row_commit") === vE, "evens")
          .when(col("_row_commit") === vO, "odds")
          .otherwise("other").as("commit_kind"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // DELETE BY ROW ID: same rank-closed-form id assignment as q73, then
    // an id-addressed MOR delete of the first 10 evens-era ids and the
    // first 10 odds-era ids (positional arithmetic on the fresh file,
    // materialized-arm scan on the compacted one) plus one bogus id (a
    // silent no-op). Any slip (wrong position arithmetic, a DV on the
    // wrong file, the bogus id matching something) changes the row set
    "q74_rowid_delete" -> ((s, dir) => {
      val root = TempRoots.create("graft-engine")
      val t = TsTable.create(root, TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")),
        None, None))
      t.enableRowTracking()
      val df = tokenDf(s, dir)
      t.append(df.where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0")
        .repartition(1).sortWithinPartitions("doc_id"))
      t.append(df.where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .repartition(1).sortWithinPartitions("doc_id"))
      val n = t.scan(s).count() // ids 0..n-1; compaction consumes n more
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024) // materializes them
      // a third, offset batch lands POSITIONAL at ids 2n..2n+n-1
      t.append(tokenDf(s, dir, idOffset = 10000000L)
        .repartition(1).sortWithinPartitions("doc_id"))
      import s.implicits._
      val victims = (0L until 10L) ++ (2 * n until 2 * n + 10L) :+ (100L * n + 999999L)
      graft.maintain.RowIdOps.deleteByRowIds(s, t, victims.toDF("_row_id"))
      t.scanWithRowIds(s).select(col("doc_id"), col("source"), col("n_tok"),
        col("_row_id").as("row_id"), tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // files metadata table: two single-file appends (evens, odds) make
    // the manifest's per-file row counts and doc_id/n_tok footer stats a
    // closed form — the gate proves the `files` surface reports EXACTLY
    // what a group-by over the data computes, without touching the data
    "q65_files_meta" -> ((s, dir) => {
      val t = buildTokenTable(s, dir, nFiles = 1,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").coalesce(1))
      t.files(s).select(col("row_count"),
        expr("stats['doc_id']['min']").as("min_doc"),
        expr("stats['doc_id']['max']").as("max_doc"),
        expr("CAST(stats['n_tok']['min'] AS INT)").as("min_tok"),
        expr("CAST(stats['n_tok']['max'] AS INT)").as("max_tok"))
    }),

    // CHECK constraint gate: the violating batch (odd ids, n_tok driven
    // out of bounds) must be rejected WHOLE — only the catch of the typed
    // violation lets the query proceed, and the scan must equal the
    // evens-only closed form (any leaked odd row hash-mismatches)
    "q61_check_gate" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.addCheck(s, "tok_bounds", "n_tok BETWEEN 64 AND 2048")
      try t.append(tokenDf(s, dir)
        .where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumn("n_tok", lit(1000000)).repartition(2))
      catch { case _: graft.table.CheckViolationException => () }
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // schema evolution: ADD COLUMN is a metadata-only commit — rows
    // written before it scan as NULL (parquet missing-column fill), rows
    // after carry real values, and the post-evolution append is enforced
    // against the evolved schema
    "q60_schema_evolution" -> ((s, dir) => {
      val t = buildTokenTable(s, dir,
        filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      t.addColumn("quality", org.apache.spark.sql.types.IntegerType)
      val odds = tokenDf(s, dir).where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1")
        .withColumn("quality",
          expr("CAST(CAST(substring(doc_id, 5) AS BIGINT) % 100 AS INT)"))
      t.append(odds.repartition(4))
      // -1 sentinel instead of NULL: nullable ints round-trip as float64 +
      // NaN through the pandas-based oracle compare, and NaN breaks both
      // the tolerance check and value hashing. The coalesce still PROVES
      // the NULL fill — only a genuine NULL maps to -1.
      t.scan(s).select(col("doc_id"), col("source"), col("n_tok"),
        coalesce(col("quality"), lit(-1)).as("quality"),
        tokSumCol(col("tokens")).as("tok_sum"))
    }),

    // snapshot expiration after compaction: orphans deleted, checkpointed
    // manifest replays, data intact
    "q12_expire_scan" -> ((s, dir) => {
      val t = buildTokenTable(s, dir)
      Compaction.run(s, t, targetFileSize = 8L * 1024 * 1024)
      Expire.expire(t, t.version)
      TsTable.open(t.root).scan(s).select("doc_id", "source", "n_tok")
    }),

    // time travel: scan pinned at the version before the second append
    "q13_timetravel" -> ((s, dir) => {
      val t = buildTokenTable(s, dir, filter = Some("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 0"))
      val pinned = t.version
      t.append(tokenDf(s, dir).where("CAST(substring(doc_id, 5) AS BIGINT) % 2 = 1").repartition(4))
      t.scanAt(s, pinned).select("doc_id", "source", "n_tok")
    }),

    // coverage analytics (ref §2.2 C1-C10) as a query: minute buckets with
    // no events inside [min(ts), max(ts)], answered from the bitmap
    "q14_coverage_gaps" -> ((s, dir) => {
      import s.implicits._
      val root = TempRoots.create("graft-cov")
      val t = TsTable.create(root, TableMeta("events",
        TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
      t.append(tbl(s, dir, "events").repartition(4))
      val mm = tbl(s, dir, "events")
        .agg(min(unix_micros(col("ts").cast("timestamp"))), max(unix_micros(col("ts").cast("timestamp")))).head()
      val expected = BucketMath.expectedBucketsMicros(mm.getLong(0), mm.getLong(1) + 1, TimeBucket.parse("1m"))
      val missing = t.loadTableCoverage().missingFrom(expected)
      val ids = missing.runList.flatMap { case (a, b) => a to b }
      ids.toDF("bucket_id").select(
        // NTZ to match the events column type (and the oracle's output)
        timestamp_seconds(col("bucket_id").cast("long") * 60).cast("timestamp_ntz").as("bucket_start"))
    }),

    // STRUCTURED STREAMING ingest end-to-end, oracle-gated: the events
    // table re-staged as four part files, streamed file-by-file
    // (maxFilesPerTrigger=1 → four micro-batches), each batch landing as
    // one exactly-once txn append (segments + SetTxn watermark in a single
    // log commit), then scanned through the table format — the oracle is
    // simply the raw events, so any duplicate/lost batch or row surfaces
    // as a hash mismatch
    "q18_stream_ingest" -> ((s, dir) => {
      val root = TempRoots.create("graft-stream")
      val t = TsTable.create(root, TableMeta("events",
        TableKind.Clustered(ClusterSpec(Seq("user_id", "event_type", "event_id"), "zorder")),
        None, None))
      val src = Files.createTempDirectory("graft-stream-src").toString
      val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
      tbl(s, dir, "events").repartition(4).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      graft.streaming.StreamingIngest.ingestAvailable(stream, t, ckpt)
      t.refresh()
      // the staged copy and checkpoint are dead weight once the data is in
      // the table (the scan below reads table segments only) — reclaim the
      // dataset-sized dirs now instead of leaking them per invocation
      Seq(src, ckpt).foreach { d =>
        try PathNorm.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () }
      }
      t.scan(s).select("event_id", "user_id", "event_type", "value")
    }),

    // STREAMING CDC UPSERT end-to-end, oracle-gated: documents land as the
    // base table, then a revision set (every 10th doc re-texted, plus new
    // ids) is streamed through the merge-on-read upsert sink file-by-file
    // (3 micro-batches, each one exactly-once MERGE commit: DV masks +
    // new segments + SetTxn watermark). The scan reads through the DV'd
    // snapshot; the oracle recomputes the post-upsert state in pure SQL,
    // so a double-applied or lost batch surfaces as a hash mismatch
    "q63_stream_upsert" -> ((s, dir) => {
      val root = TempRoots.create("graft-supsert")
      val t = TsTable.create(root, TableMeta("documents",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_chars", "doc_id"), "zorder")),
        None, None))
      val docs = tbl(s, dir, "documents")
      t.append(docs.repartition(4))
      val rev = docs.where(col("doc_id") % 10 === 0)
        .withColumn("text", concat(lit("rev2:"), col("text")))
        .withColumn("n_chars", col("n_chars") + 5)
        .unionByName(docs.where(col("doc_id") % 97 === 3)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("source", lit("revised")))
      val src = Files.createTempDirectory("graft-supsert-src").toString
      val ckpt = Files.createTempDirectory("graft-supsert-ckpt").toString
      rev.repartition(3).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      graft.streaming.StreamingUpsert.applyAvailable(stream, t, ckpt)
      t.refresh()
      Seq(src, ckpt).foreach { d =>
        try PathNorm.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () }
      }
      t.scan(s).select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // coverage analytics closed forms (ref §2.2 C5–C7, table/coverage.rs:
    // 279-360) THROUGH the engine: coverage_ratio, max_gap and the newest
    // fully-covered 3-bucket window over [min(ts), max(ts)] at 1 m buckets,
    // all answered from the table's coverage bitmap — the oracle recomputes
    // each from the raw events with gaps-and-islands SQL
    "q16_coverage_stats" -> ((s, dir) => {
      import s.implicits._
      val root = TempRoots.create("graft-covstats")
      val t = TsTable.create(root, TableMeta("events",
        TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
      t.append(tbl(s, dir, "events").repartition(4))
      val mm = tbl(s, dir, "events")
        .agg(min(unix_micros(col("ts").cast("timestamp"))),
          max(unix_micros(col("ts").cast("timestamp")))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val expected = BucketMath.expectedBucketsMicros(lo, hi + 1, TimeBucket.parse("1m"))
      val cov = t.loadTableCoverage()
      val win = t.lastFullyCoveredWindow(hi, 3)
      Seq((expected.cardinality, cov.intersect(expected).cardinality,
        cov.maxGapLen(expected), win.map(_._1), win.map(_._2)))
        .toDF("expected_buckets", "covered_buckets", "max_gap", "ws", "we")
        .select(col("expected_buckets"), col("covered_buckets"),
          round(col("covered_buckets").cast("double") / col("expected_buckets").cast("double"), 6)
            .as("ratio_r"),
          col("max_gap"),
          timestamp_seconds(col("ws").cast("long") * 60).cast("timestamp_ntz").as("win_start"),
          timestamp_seconds(col("we").cast("long") * 60).cast("timestamp_ntz").as("win_end"))
    }),

    // ---- dedup family --------------------------------------------------
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exact(tbl(s, dir, "documents")
        .select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id")), "fp", "doc_id")),

    // LSH candidates + EXACT shingle-set Jaccard verification: the output
    // semantics ({pairs : jaccard >= 0.5}) carry no hash opacity, so the
    // oracle recomputes the emitted set end-to-end with quadratic SQL.
    // 0.5 sits in the corpus's similarity gap (background <= 0.4, planted
    // dups >= 0.8, where 16x4 banding recall is ~1 per pair).
    "q21_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairsVerified(tbl(s, dir, "documents"), "text", "doc_id",
        shingleSize = 5, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"))),

    // radius 3 rides the LOSSLESS block-combination scheme (C(8,5) 40-bit
    // keys), so the emitted set is exactly {pairs : hamming <= 3}; the
    // md5-word-hash simhash variant lets DuckDB rebuild the hash from
    // md5() hex digits and recompute that set quadratically — end-to-end
    // oracle coverage of the blocking + pairing machinery (the xxhash64
    // kernel stays the production fast path, exercised in Bench/OpsSpec)
    "q22_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairsMd5(par(s, tbl(s, dir, "documents")), "text", "doc_id", maxHamming = 3)),

    "q23_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "text", "doc_id",
        shingleSize = 4, threshold = 0.15)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"))),

    // exhaustive cosine near-dup on the vec_id%10 subset (oracle-checkable)
    "q24_embed_neardup" -> ((s, dir) => {
      val sub = tbl(s, dir, "embeddings").where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Dedup.embeddingNearDupPairs(sub, "embedding", "vec_id",
        threshold = 0.0, exhaustive = true)
        .where(col("cos") >= 0.15)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // brute-force exact ANN top-5 for queries vec_id%100==0
    "q25_ann_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val qs = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Ann.bruteForceTopK(emb.where(col("vec_id") % 100 =!= 0), qs, 5)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    // IVF ANN at FULL probe (nProbe == numCentroids): every query probes
    // every list, which is mathematically identical to brute force — so
    // the q25 oracle applies verbatim and a green row proves the whole
    // IVF machinery (centroid training, argmax assignment, list-probe
    // join, ranking) end to end. Partial-probe recall is measured in
    // OpsSpec; the scale story is the partition-pruned probe join.
    "q26_ivf_ann" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val qs = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Ann.ivfTopK(emb.where(col("vec_id") % 100 =!= 0), qs, 5, numCentroids = 16, nProbe = 16)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    // ---- text analysis --------------------------------------------------
    "q30_token_count" -> ((s, dir) => tbl(s, dir, "documents")
      .groupBy("source")
      .agg(sum(TextOps.tokenCount(col("text"))).as("tok_ws"),
        sum(TextOps.subwordCountEstimate(col("text"))).as("tok_sub"),
        count(lit(1)).as("docs"))),

    "q31_quality" -> ((s, dir) => {
      val m = TextOps.qualityMetrics(tbl(s, dir, "documents"), "text")
      m.select(col("doc_id"), col("n_words"),
        round(col("avg_word_len"), 3).as("awl"),
        TextOps.stopwordHits(col("text"), graft.ops.Stopwords.en).cast("long").as("sw_hits"))
    }),

    "q32_langid" -> ((s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    "q33_fingerprint" -> ((s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // md5-window variant so the DuckDB oracle can recompute it exactly;
    // the xxhash64 variant (minFingerprint) stays the production fast path
    "q34_rolling_fp" -> ((s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.minFingerprintMd5(col("text")).as("min_fp"))),

    // deterministic engine-portable train/val/test split (md5 bucket) —
    // membership is a pure function of the key, recomputable anywhere
    "q35_sample_split" -> ((s, dir) => graft.ops.Sampling.split(
      tbl(s, dir, "documents").select("doc_id"), "doc_id")
      .withColumn("bucket", graft.ops.Sampling.md5Bucket(col("doc_id"), 100))),

    // GPT-style sequence packing THROUGH THE SCALABLE PATH (two-pass
    // distributed prefix sum; the oracle recomputes with window SQL)
    // narrow form directly: the packer needs no token arrays, so riding
    // tokenDf would evaluate nothing but still pay its parallelizing
    // exchange — the pre-generation projection is already the right input
    "q36_seq_pack" -> ((s, dir) => graft.ops.Packing.packStreamScalable(
      tokenNarrow(s, dir, 0L).select("source", "doc_id", "n_tok"),
      "source", "doc_id", "n_tok", maxTokens = 2048)
      .select("source", "doc_id", "stream_pos", "seq_id")),

    // corpus vocabulary stats: top-50 token ids by frequency
    "q37_vocab_topk" -> ((s, dir) =>
      graft.ops.TextOps.vocabTopK(tokenDf(s, dir), "tokens", 50)),

    // FLAGSHIP COMPOSITION: the whole training-data prep pipeline in one
    // declarative plan — exact dedup (content fingerprint, min doc_id
    // survives) -> quality filter (>= 20 words) -> deterministic train
    // split (md5 bucket < 90) -> subword token estimate -> sequence
    // packing. Every stage is an operator from ops/; the oracle
    // recomputes the chain end-to-end in SQL.
    "q38_pipeline_e2e" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val survivors = Dedup.exact(
        docs.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id")),
        "fp", "doc_id").select("doc_id")
      val train = graft.ops.Sampling.split(
          docs.join(survivors, "doc_id")
            .where(TextOps.tokenCount(col("text")) >= 20), "doc_id")
        .where(col("split") === "train")
      val tok = train.select(col("doc_id"), col("source"),
        TextOps.subwordCountEstimate(col("text")).cast("long").as("n_tok"))
      graft.ops.Packing.packStream(tok, "source", "doc_id", "n_tok", 2048)
        .select(col("source"), col("doc_id"), col("n_tok"),
          col("stream_pos"), col("seq_id"))
    }),

    // ---- multimodal plumbing (decode stubbed; schema/plumbing real) -----
    "q40_multimodal_meta" -> ((s, dir) => {
      val blobs = Multimodal.synthesizeBlobs(tbl(s, dir, "documents"), "doc_id")
      Multimodal.decodeMeta(blobs)
        .select(col("media_id"), col("media_type"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.payload_bytes").as("payload_bytes"), col("valid"))
    }),

    "q41_frame_sample" -> ((s, dir) => {
      val blobs = Multimodal.synthesizeBlobs(tbl(s, dir, "documents"), "doc_id")
      Multimodal.sampleFrames(blobs, frameBytes = 64, stride = 4)
        .groupBy("media_id").agg(count(lit(1)).as("frames"))
    }),

    "q42_multimodal_features" -> ((s, dir) => {
      val blobs = Multimodal.synthesizeBlobs(tbl(s, dir, "documents"), "doc_id")
      Multimodal.extractFeatures(blobs)
        .select(col("media_id"), round(element_at(col("features"), 1), 4).as("f0"))
    }),

    // REAL-format decode (PortableMedia): blobs are genuine P6/WAV bytes,
    // Spark parses them byte-level, the oracle recomputes the decoded
    // statistics in closed form — encode/decode inconsistencies surface as
    // value mismatches
    "q43_image_decode" -> ((s, dir) => {
      val imgs = graft.ops.PortableMedia.synthesizeImages(tbl(s, dir, "documents"), "doc_id")
      graft.ops.PortableMedia.decodeImages(imgs).select(
        col("media_id"),
        col("img.width").as("width"), col("img.height").as("height"),
        round(col("img.mean_r"), 4).as("mr"),
        round(col("img.mean_g"), 4).as("mg"),
        round(col("img.mean_b"), 4).as("mb"))
    }),

    "q44_wav_decode" -> ((s, dir) => {
      val wavs = graft.ops.PortableMedia.synthesizeWavs(tbl(s, dir, "documents"), "doc_id")
      graft.ops.PortableMedia.decodeWavs(wavs).select(
        col("media_id"),
        col("wav.sample_rate").as("rate"),
        col("wav.n_samples").as("n_samples"),
        round(col("wav.mean_abs"), 4).as("ma"))
    }),

    // PNG encode + decode round trip through the JDK's javax.imageio —
    // same pixel formulas and dims as q43's P6 path, different container.
    // PNG is lossless, so the decoded channel means must reproduce the
    // identical closed form: any defect in either codec direction (or in
    // the BufferedImage channel order) breaks the hash
    "q45_png_decode" -> ((s, dir) => {
      val imgs = graft.ops.PortableMedia.synthesizePngs(tbl(s, dir, "documents"), "doc_id")
      graft.ops.PortableMedia.decodeImagesIO(imgs).select(
        col("media_id"),
        col("img.width").as("width"), col("img.height").as("height"),
        round(col("img.mean_r"), 4).as("mr"),
        round(col("img.mean_g"), 4).as("mg"),
        round(col("img.mean_b"), 4).as("mb"))
    }),

    // near-dup PAIRS → dedup CLUSTERS: distributed connected components
    // (large-star/small-star) over the q21 exact-verified pair graph;
    // every doc gets its component's min doc_id as cluster_id plus the
    // cluster size (singletons cluster to themselves, size 1)
    "q46_dedup_clusters" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashLshPairsVerified(docs, "text", "doc_id",
        shingleSize = 5, threshold = 0.5)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val labeled = docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    }),

    // per-source quota ("at most 10 docs per domain, largest first") —
    // the row_number + rank-filter shape Spark rewrites to a map-side
    // WindowGroupLimit (asserted in PlanAuditSpec)
    "q47_source_quota" -> ((s, dir) =>
      graft.ops.Sampling.perGroupQuota(tbl(s, dir, "documents"), "source", 10,
        col("n_chars").desc, col("doc_id"))
        .select(col("source"), col("doc_id"), col("rk"))),

    // token-budget corpus selection: biggest docs first until half the
    // corpus tokens; the cumulative sum is the two-pass distributed
    // prefix sum (no single-task global window). The budget itself is one
    // scalar pre-aggregate — planning metadata, not a data collect.
    "q48_token_budget" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      val budget = docs.agg(sum("n_tok")).head.getLong(0) / 2
      graft.ops.Sampling.takeUntilBudget(docs, "n_tok", budget,
        Seq(col("n_tok").desc, col("doc_id")))
        .select(col("doc_id"), col("n_tok"), col("cum"))
    }),

    // benchmark decontamination: corpus docs sharing >= 3 distinct word
    // 3-grams with the held-out "benchmark" subset (doc_id % 50 == 0);
    // the benchmark gram set is broadcast — zero shuffle until the
    // per-doc hit count
    "q49_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      TextOps.contaminationHits(corpus, "text", "doc_id", bench, "text", n = 3)
        .where(col("hits") >= 3)
    }),

    // Gopher-style repetition filters: duplicate-word fraction and the
    // top word's share, per doc
    "q50_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(tbl(s, dir, "documents"), "text", "doc_id")),

    // incremental dedup: a 20% "arriving batch" (portable md5 split, the
    // q35 convention) dedups against a PERSISTED band index of the other
    // 80% — corpus signatures are never recomputed, corpus texts join
    // only for candidate ids. Candidate generation is identical to q21
    // (same signatures, same banding), so band recall carries over.
    "q51_incremental_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val isBatch = graft.ops.Sampling.md5Bucket(col("doc_id"), 5) === 0
      val corpus = docs.where(!isBatch)
      val batch = docs.where(isBatch)
      val index = Dedup.minhashIndex(corpus, "text", "doc_id")
      Dedup.dedupAgainstIndex(batch, "text", "doc_id", index,
          corpus, "text", "doc_id", threshold = 0.5)
        .select(col("id_new"), col("id_match"), round(col("jaccard"), 4).as("j"))
    }),

    // PII scrub: a deterministic md5-slice of docs gets synthesized
    // email/IP/phone strings appended (both engines build the identical
    // augmented text), then the staged regex scrub redacts them —
    // patterns live in the RE2 ∩ Java-regex subset so DuckDB reproduces
    // the scrub byte-for-byte
    "q52_pii_scrub" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val withPii = docs.select(col("doc_id"),
        when(graft.ops.Sampling.md5Bucket(col("doc_id"), 4) === 0,
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10.0."),
            pmod(col("doc_id"), lit(256L)).cast("string"),
            lit(".7 or call 555-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      TextOps.scrubPii(withPii, "text", "doc_id")
    })
  )

  /** DuckDB oracle SQL per query (same parquet tables; column names match
    * the Spark side exactly). Entries absent here get the weaker
    * rows-only check (non-SQL-expressible: LSH/simhash internals use
    * xxhash64, IVF recall, rolling fingerprints, langid heuristic). */
  def oracleSql: Map[String, String] = {
    val docIdNum = "CAST(substr(doc_id, 5) AS BIGINT)" // engine tables carry doc-%012d
    // exact cosine top-5 — shared by q25 (brute force) and q26 (IVF at
    // full probe, which is mathematically the same search)
    val annTopK =
      """WITH qs AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings WHERE vec_id % 100 = 0),
        |  vs AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 100 <> 0),
        |  scored AS (
        |    SELECT q_id, vec_id,
        |      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |         FROM (SELECT unnest(v) AS x, unnest(q) AS y) z) /
        |      sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |         FROM (SELECT unnest(v) AS x) z2)) /
        |      sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |         FROM (SELECT unnest(q) AS y) z3)) AS cos
        |    FROM vs CROSS JOIN qs),
        |  ranked AS (SELECT q_id, vec_id, cos,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |    FROM scored)
        |SELECT q_id, vec_id, rank, round(cos, 6) AS cos_r FROM ranked WHERE rank <= 5""".stripMargin
    Map(
      "q01_agg" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
          |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
          |FROM lineitem GROUP BY 1, 2""".stripMargin,

      "q02_range_scan" ->
        """SELECT event_id, user_id, event_type, value FROM events
          |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'""".stripMargin,

      "q03_join" ->
        """SELECT o_orderpriority, count(*) AS cnt,
          |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""".stripMargin,

      "q04_window" ->
        """SELECT event_id, user_id,
          |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS ma
          |FROM events""".stripMargin,

      "q05_date_trunc" ->
        """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
          |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sv_c
          |FROM events GROUP BY 1, 2""".stripMargin,

      "q06_topk" ->
        "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 100",

      "q07_filtered_agg" ->
        """SELECT count(*) AS n,
          |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s_c
          |FROM lineitem WHERE l_quantity > 25""".stripMargin,

      "q08_3way_join" ->
        """SELECT c_mktsegment, count(*) AS cnt,
          |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1""".stripMargin,

      "q09_anti_join" ->
        """SELECT c_nationkey, count(*) AS n FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY 1""".stripMargin,

      "q10_maintain_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum,
           |  md5(array_to_string(list_transform(
           |        generate_series(0, CAST(64 + doc_id % 1985 AS INT) - 1),
           |        i -> CAST(CAST((doc_id * 31 + i) % 50257 AS INT) AS VARCHAR)), ',')) AS tok_md5
           |FROM documents""".stripMargin,

      "q39_hilbert_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents""".stripMargin,

      "q15_delete_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE NOT (64 + doc_id % 1985 BETWEEN 200 AND 400)""".stripMargin,

      "q53_dv_delete_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE NOT (64 + doc_id % 1985 BETWEEN 200 AND 400)
           |  AND NOT (64 + doc_id % 1985 < 100)""".stripMargin,

      "q54_update_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           |  CASE WHEN 64 + doc_id % 1985 BETWEEN 200 AND 400
           |       THEN source || '-upd' ELSE source END AS source,
           |  CAST(CASE WHEN 64 + doc_id % 1985 BETWEEN 200 AND 400
           |       THEN 1064 + doc_id % 1985 ELSE 64 + doc_id % 1985 END AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents""".stripMargin,

      // identical to q54: MOR update must be indistinguishable from COW
      // update at the query surface
      "q59_update_mor_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           |  CASE WHEN 64 + doc_id % 1985 BETWEEN 200 AND 400
           |       THEN source || '-upd' ELSE source END AS source,
           |  CAST(CASE WHEN 64 + doc_id % 1985 BETWEEN 200 AND 400
           |       THEN 1064 + doc_id % 1985 ELSE 64 + doc_id % 1985 END AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents""".stripMargin,

      "q55_restore_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 0""".stripMargin,

      "q56_merge_delete" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 7 <> 0""".stripMargin,

      // doc_id 0 is %10==0 but its factor-31 and factor-37 token arrays
      // are both all-(i % 50257) — the MERGE writes an identical row, so
      // the diff rightly reports NO update for it; the oracle excludes it
      "q57_snapshot_diff" ->
        s"""SELECT 'insert' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 1 AND NOT (64 + doc_id % 1985 BETWEEN 200 AND 400)
           |UNION ALL
           |SELECT 'delete' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 0 AND (64 + doc_id % 1985 BETWEEN 200 AND 400)
           |UNION ALL
           |SELECT 'update_pre' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 10 = 0 AND doc_id > 0
           |  AND NOT (64 + doc_id % 1985 BETWEEN 200 AND 400)
           |UNION ALL
           |SELECT 'update_post' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 37)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 10 = 0 AND doc_id > 0
           |  AND NOT (64 + doc_id % 1985 BETWEEN 200 AND 400)""".stripMargin,

      "q11_merge_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  CASE WHEN doc_id % 10 = 0 THEN ${tokSumOracle("doc_id", 37)}
           |       ELSE ${tokSumOracle("doc_id", 31)} END AS tok_sum
           |FROM documents
           |UNION ALL
           |SELECT 'doc-' || lpad(CAST(doc_id + 10000000 AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + (doc_id + 10000000) % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("(doc_id + 10000000)", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

      // identical to q11 (same inputs, same final state): MOR merge must
      // be indistinguishable from COW merge at the query surface
      "q58_merge_mor_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  CASE WHEN doc_id % 10 = 0 THEN ${tokSumOracle("doc_id", 37)}
           |       ELSE ${tokSumOracle("doc_id", 31)} END AS tok_sum
           |FROM documents
           |UNION ALL
           |SELECT 'doc-' || lpad(CAST(doc_id + 10000000 AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + (doc_id + 10000000) % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("(doc_id + 10000000)", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

      // evens-only: the tagged snapshot predates the odd append + delete
      "q62_tag_scan" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 0""".stripMargin,

      // every document exactly once: evens from main + odds via the
      // published branch; the rejected branch left no trace
      "q64_branch_wap" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents""".stripMargin,

      // all documents plus the post-drop insert set, canonical 4 columns
      // (the dropped `quality` column must be invisible everywhere)
      "q66_drop_column" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |UNION ALL
           |SELECT 'doc-' || lpad(CAST(doc_id + 10000000 AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + (doc_id + 10000000) % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("(doc_id + 10000000)", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

      // every document exactly once, re-clustered twice (zorder → hilbert
      // under a permuted column spec) — identical row set to q64's form
      "q67_cluster_evolution" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents""".stripMargin,

      // every document whose n_tok survived the MOR delete, re-keyed
      // through the rename — same row set regardless of column names
      "q68_rename_column" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE 64 + doc_id % 1985 <= 1500""".stripMargin,

      // the recorded feed: odd-doc inserts, the MOR delete's row images
      // (both parities can exceed the n_tok bound), and the UPDATE's
      // pre/post pairs over the delete's survivors (n_tok ≤ 100 < 1500,
      // so the bound never intersects); the compaction commit is silent
      "q72_change_feed" ->
        s"""SELECT 'insert' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 2 = 1
           |UNION ALL
           |SELECT 'delete' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE 64 + doc_id % 1985 > 1500
           |UNION ALL
           |SELECT 'update_pre' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE 64 + doc_id % 1985 <= 100
           |UNION ALL
           |SELECT 'update_post' AS _change_type,
           |  'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           |  'patched' AS source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE 64 + doc_id % 1985 <= 100""".stripMargin,

      // row ids: rank by doc_id within each sorted append (evens then
      // odds, offset by the evens count); survivors of the MOR delete;
      // commit_kind classifies each row's last-modifying commit
      "q73_row_tracking" ->
        s"""WITH base AS (
           |  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS did,
           |         doc_id AS id0, source, 64 + doc_id % 1985 AS ntok
           |  FROM documents),
           |evens AS (SELECT *, row_number() OVER (ORDER BY did) - 1 AS rid
           |          FROM base WHERE id0 % 2 = 0),
           |odds AS (SELECT *, (SELECT count(*) FROM base WHERE id0 % 2 = 0)
           |           + row_number() OVER (ORDER BY did) - 1 AS rid
           |         FROM base WHERE id0 % 2 = 1),
           |allr AS (SELECT * FROM evens UNION ALL SELECT * FROM odds)
           |SELECT did AS doc_id,
           |  CASE WHEN ntok <= 100 THEN 'patched' ELSE source END AS source,
           |  CAST(ntok AS INT) AS n_tok,
           |  rid AS row_id,
           |  CASE WHEN ntok <= 100 THEN 'updated'
           |       WHEN id0 % 2 = 0 THEN 'evens' ELSE 'odds' END AS commit_kind,
           |  ${tokSumOracle("id0", 31)} AS tok_sum
           |FROM allr WHERE ntok <= 1500""".stripMargin,

      // q74: rank ids as q73 (evens then odds), the compacted era keeps
      // materialized ids, the offset batch ranks from 2n; survivors
      // exclude the first 10 ids and the first 10 offset-batch ids
      "q74_rowid_delete" ->
        s"""WITH base AS (
           |  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS did,
           |         doc_id AS id0, source, 64 + doc_id % 1985 AS ntok
           |  FROM documents),
           |cnt AS (SELECT count(*) AS n FROM base),
           |evens AS (SELECT did, id0, source, ntok,
           |            row_number() OVER (ORDER BY did) - 1 AS rid
           |          FROM base WHERE id0 % 2 = 0),
           |odds AS (SELECT did, id0, source, ntok,
           |           (SELECT count(*) FROM base WHERE id0 % 2 = 0)
           |             + row_number() OVER (ORDER BY did) - 1 AS rid
           |         FROM base WHERE id0 % 2 = 1),
           |late AS (SELECT 'doc-' || lpad(CAST(doc_id + 10000000 AS VARCHAR), 12, '0') AS did,
           |           doc_id + 10000000 AS id0, source,
           |           64 + (doc_id + 10000000) % 1985 AS ntok,
           |           2 * (SELECT n FROM cnt) + row_number() OVER (ORDER BY doc_id) - 1 AS rid
           |         FROM documents),
           |allr AS (SELECT * FROM evens UNION ALL SELECT * FROM odds
           |         UNION ALL SELECT * FROM late)
           |SELECT did AS doc_id, source, CAST(ntok AS INT) AS n_tok,
           |  rid AS row_id, ${tokSumOracle("id0", 31)} AS tok_sum
           |FROM allr
           |WHERE NOT (rid < 10 OR (rid >= 2 * (SELECT n FROM cnt)
           |                        AND rid < 2 * (SELECT n FROM cnt) + 10))""".stripMargin,

      // survivors of the MOR delete with n_tok as the WIDENED type
      "q71_widen_column" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS BIGINT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE 64 + doc_id % 1985 <= 1500""".stripMargin,

      // clone rows: every document surviving the clone-side MOR delete;
      // src_rows: the untouched evens population on the source
      "q70_shallow_clone" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum,
           |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS src_rows
           |FROM documents
           |WHERE 64 + doc_id % 1985 <= 1500""".stripMargin,

      // the evens-only snapshot the captured instant pins (odds appended
      // strictly after it must be invisible to the as-of scan)
      "q69_time_travel_ts" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 0""".stripMargin,

      // one row per file (= per parity class), its count and stat bounds
      "q65_files_meta" ->
        s"""SELECT COUNT(*) AS row_count,
           |  min('doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS min_doc,
           |  max('doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS max_doc,
           |  CAST(min(64 + doc_id % 1985) AS INT) AS min_tok,
           |  CAST(max(64 + doc_id % 1985) AS INT) AS max_tok
           |FROM documents GROUP BY doc_id % 2""".stripMargin,

      // evens-only: the rejected batch left no trace (same form as q55)
      "q61_check_gate" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents
           |WHERE doc_id % 2 = 0""".stripMargin,

      "q60_schema_evolution" ->
        s"""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  CAST(-1 AS INT) AS quality,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 2 = 0
           |UNION ALL
           |SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
           |  CAST(64 + doc_id % 1985 AS INT) AS n_tok,
           |  CAST(doc_id % 100 AS INT) AS quality,
           |  ${tokSumOracle("doc_id", 31)} AS tok_sum
           |FROM documents WHERE doc_id % 2 = 1""".stripMargin,

      "q12_expire_scan" ->
        """SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
          |  CAST(64 + doc_id % 1985 AS INT) AS n_tok
          |FROM documents""".stripMargin,

      "q13_timetravel" ->
        """SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id, source,
          |  CAST(64 + doc_id % 1985 AS INT) AS n_tok
          |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

      "q14_coverage_gaps" ->
        """WITH bounds AS (SELECT date_trunc('minute', min(ts)) AS lo,
          |                       date_trunc('minute', max(ts)) AS hi FROM events),
          |  exp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m FROM bounds),
          |  got AS (SELECT DISTINCT date_trunc('minute', ts) AS m FROM events)
          |SELECT m AS bucket_start FROM exp EXCEPT SELECT m AS bucket_start FROM got""".stripMargin,

      "q18_stream_ingest" ->
        "SELECT event_id, user_id, event_type, value FROM events",

      // post-upsert state in closed form: matched keys carry the revision,
      // unmatched survive untouched, the shifted-id rows insert
      "q63_stream_upsert" ->
        """SELECT doc_id,
          |  CASE WHEN doc_id % 10 = 0 THEN 'rev2:' || text ELSE text END AS text,
          |  lang, source,
          |  CASE WHEN doc_id % 10 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars
          |FROM documents
          |UNION ALL
          |SELECT doc_id + 10000000 AS doc_id, text, lang, 'revised' AS source, n_chars
          |FROM documents WHERE doc_id % 97 = 3""".stripMargin,

      // q16: minute-bucket gaps-and-islands over the raw events; bucket
      // ids are epochSeconds div 60 (all post-epoch). expected = the
      // contiguous [min,max] bucket span; covered = distinct present
      // buckets; max_gap = widest interior missing run; window = newest
      // run of length >= 3, reported as its last 3 buckets
      "q16_coverage_stats" ->
        """WITH mins AS (SELECT DISTINCT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60 AS b
          |             FROM events WHERE ts IS NOT NULL),
          |bounds AS (SELECT min(b) AS lob, max(b) AS hib FROM mins),
          |isl AS (SELECT b, b - row_number() OVER (ORDER BY b) AS grp FROM mins),
          |runs AS (SELECT min(b) AS s, max(b) AS e FROM isl GROUP BY grp),
          |gaps AS (SELECT lead(s) OVER (ORDER BY s) - e - 1 AS gap FROM runs),
          |win AS (SELECT max(e) AS we FROM runs WHERE e - s + 1 >= 3)
          |SELECT (SELECT hib - lob + 1 FROM bounds) AS expected_buckets,
          |       (SELECT count(*) FROM mins) AS covered_buckets,
          |       round((SELECT count(*) FROM mins) * 1.0 /
          |             (SELECT hib - lob + 1 FROM bounds), 6) AS ratio_r,
          |       COALESCE((SELECT max(gap) FROM gaps), 0) AS max_gap,
          |       (SELECT make_timestamp((we - 2) * 60 * 1000000) FROM win) AS win_start,
          |       (SELECT make_timestamp(we * 60 * 1000000) FROM win) AS win_end""".stripMargin,

      // q21 emits {pairs : exact 5-gram jaccard >= 0.5} (LSH proposes,
      // exact verification decides) — plain quadratic SQL at oracle scale
      "q21_minhash_pairs" ->
        """WITH sh AS (
          |  SELECT doc_id AS id,
          |    list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 1)),
          |                  i -> substring(text, i, 5))) AS s
          |  FROM documents),
          |p AS (
          |  SELECT a.id AS id_a, b.id AS id_b,
          |    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS sa, len(b.s) AS sb
          |  FROM sh a JOIN sh b ON a.id < b.id)
          |SELECT id_a, id_b, round(inter * 1.0 / (sa + sb - inter), 4) AS j
          |FROM p WHERE inter * 1.0 / (sa + sb - inter) >= 0.5""".stripMargin,

      // q22: rebuild the md5-word-hash simhash per doc (bit b of a word's
      // hash = bit (3 - b%4) of md5 hex digit b/4, exactly the kernel's
      // byte/bit order; two 32-bit halves sidestep BIGINT sign issues),
      // then all-pairs Hamming <= 3 — the emitted set is lossless-blocked,
      // so quadratic recomputation is exact
      "q22_simhash_pairs" ->
        """WITH w AS (
          |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |h AS (SELECT doc_id, list_transform(ws, x -> md5(x)) AS hs FROM w),
          |s AS (SELECT doc_id,
          |  CAST(list_sum(list_transform(range(0, 32), b -> CASE WHEN
          |      2 * len(list_filter(hs, m ->
          |        ((strpos('0123456789abcdef', substr(m, CAST(b // 4 AS INT) + 1, 1)) - 1)
          |          >> (3 - CAST(b % 4 AS INT))) & 1 = 1)) > len(hs)
          |      THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS w0,
          |  CAST(list_sum(list_transform(range(32, 64), b -> CASE WHEN
          |      2 * len(list_filter(hs, m ->
          |        ((strpos('0123456789abcdef', substr(m, CAST(b // 4 AS INT) + 1, 1)) - 1)
          |          >> (3 - CAST(b % 4 AS INT))) & 1 = 1)) > len(hs)
          |      THEN CAST(1 AS BIGINT) << CAST(b - 32 AS INT) ELSE 0 END)) AS BIGINT) AS w1
          |  FROM h)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS hamming
          |FROM s a JOIN s b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 3""".stripMargin,

      // exact n-gram jaccard is plain (quadratic) SQL at oracle scale;
      // maxShingleFreq never triggers at sf0.01 (500 docs < 1000 freq cap)
      "q23_ngram_jaccard" ->
        """WITH sh AS (
          |  SELECT doc_id AS id,
          |    list_distinct(list_transform(generate_series(1, greatest(length(text)-3, 1)),
          |                  i -> substring(text, i, 4))) AS s
          |  FROM documents),
          |p AS (
          |  SELECT a.id AS id_a, b.id AS id_b,
          |    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS sa, len(b.s) AS sb
          |  FROM sh a JOIN sh b ON a.id < b.id)
          |SELECT id_a, id_b, round(inter * 1.0 / (sa + sb - inter), 4) AS j
          |FROM p WHERE inter * 1.0 / (sa + sb - inter) >= 0.15""".stripMargin,

      "q20_dedup_exact" ->
        """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
          |                               ' +', ' ', 'g'))) AS fp,
          |  min(doc_id) AS doc_id
          |FROM documents GROUP BY 1""".stripMargin,

      "q24_embed_neardup" ->
        """WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
          |  p AS (
          |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          |         FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z) /
          |      sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
          |         FROM (SELECT unnest(a.embedding) AS x) z2)) /
          |      sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
          |         FROM (SELECT unnest(b.embedding) AS y) z3)) AS cos
          |    FROM s a JOIN s b ON a.vec_id < b.vec_id)
          |SELECT id_a, id_b, round(cos, 6) AS cos_r FROM p WHERE cos >= 0.15""".stripMargin,

      "q25_ann_topk" -> annTopK,
      "q26_ivf_ann" -> annTopK,

      "q30_token_count" ->
        """SELECT source,
          |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS tok_ws,
          |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |           ELSE (SELECT sum(greatest(1, CAST(ceil(length(w) / 4.0) AS INT)))
          |                 FROM unnest(regexp_split_to_array(trim(text), '\s+')) t(w)) END) AS BIGINT) AS tok_sub,
          |  count(*) AS docs
          |FROM documents GROUP BY 1""".stripMargin,

      "q31_quality" ->
        s"""SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN 0
           |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
           |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
           |       ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 /
           |            len(regexp_split_to_array(trim(text), '\\s+')) END, 3) AS awl,
           |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
           |      w -> w IN (${graft.ops.Stopwords.en.map(w => s"'$w'").mkString(",")}))) AS sw_hits
           |FROM documents""".stripMargin,

      // stopword-argmax language ID replicated exactly: same scores (int
      // count / word count as double), same first-max tie-break order
      // (en, de, fr, es), same 0.02 'und' floor as TextOps.langId
      "q32_langid" -> {
        val tableList = graft.ops.Stopwords.tables.map { case (lang, stops) =>
          lang -> stops.map(w => s"'$w'").mkString(",")
        }
        val scoreCols = tableList.map { case (lang, set) =>
          s"len(list_filter(ws, x -> x IN ($set))) * 1.0 / greatest(len(ws), 1) AS s_$lang"
        }.mkString(",\n  ")
        val mx = tableList.map(t => s"s_${t._1}").mkString("greatest(", ", ", ")")
        val caseArms = tableList.init.map { case (lang, _) =>
          s"WHEN s_$lang = mx THEN '$lang'"
        }.mkString(" ")
        s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
           |sc AS (SELECT doc_id,
           |  $scoreCols
           | FROM w),
           |m AS (SELECT *, $mx AS mx FROM sc)
           |SELECT doc_id, CASE WHEN mx <= 0.02 THEN 'und'
           |  $caseArms ELSE '${tableList.last._1}' END AS lang_pred FROM m""".stripMargin
      },

      "q34_rolling_fp" ->
        """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents)
          |SELECT doc_id, list_min(list_transform(generate_series(1, greatest(len(ws)-3, 1)),
          |  i -> md5(array_to_string(ws[i:i+3], ' ')))) AS min_fp
          |FROM w""".stripMargin,

      "q33_fingerprint" ->
        """SELECT doc_id,
          |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
          |                          ' +', ' ', 'g'))) AS fp
          |FROM documents""".stripMargin,

      // q35: md5-derived bucket rebuilt from hex digits (first 8 = 32 bits)
      "q35_sample_split" ->
        """WITH h AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx FROM documents),
          |b AS (SELECT doc_id,
          |  CAST(list_sum(list_transform(range(0, 8), i ->
          |    CAST(strpos('0123456789abcdef', substr(hx, CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
          |      << CAST(4 * (7 - i) AS INT))) % 100 AS INT) AS bucket
          |  FROM h)
          |SELECT doc_id, CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
          |                    ELSE 'test' END AS split, bucket
          |FROM b""".stripMargin,

      // q36: the two-pass distributed prefix sum must equal plain window
      // SQL over the same (source, doc_id) order
      "q36_seq_pack" ->
        """WITH t AS (SELECT source, 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
          |                  CAST(64 + doc_id % 1985 AS BIGINT) AS n FROM documents),
          |w AS (SELECT source, doc_id,
          |        COALESCE(sum(n) OVER (PARTITION BY source ORDER BY doc_id
          |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sp
          |      FROM t)
          |SELECT source, doc_id, CAST(sp AS BIGINT) AS stream_pos,
          |       CAST(sp // 2048 AS BIGINT) AS seq_id FROM w""".stripMargin,

      "q37_vocab_topk" ->
        """WITH tok AS (
          |  SELECT unnest(list_transform(generate_series(0, CAST(64 + doc_id % 1985 AS INT) - 1),
          |                i -> CAST((doc_id * 31 + i) % 50257 AS INT))) AS token
          |  FROM documents)
          |SELECT token, count(*) AS cnt FROM tok GROUP BY 1
          |ORDER BY cnt DESC, token LIMIT 50""".stripMargin,

      // q38: the pipeline chain recomputed stage by stage in SQL
      "q38_pipeline_e2e" ->
        """WITH fp AS (
          |  SELECT doc_id, source, text,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
          |                            ' +', ' ', 'g'))) AS fp
          |  FROM documents),
          |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY 1),
          |dedup AS (SELECT f.doc_id, f.source, f.text FROM fp f JOIN keep k ON f.doc_id = k.doc_id),
          |qual AS (
          |  SELECT * FROM dedup
          |  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END) >= 20),
          |bkt AS (
          |  SELECT doc_id, source, text,
          |    CAST(list_sum(list_transform(range(0, 8), i ->
          |      CAST(strpos('0123456789abcdef', substr(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
          |        << CAST(4 * (7 - i) AS INT))) % 100 AS INT) AS bucket
          |  FROM qual),
          |train AS (SELECT * FROM bkt WHERE bucket < 90),
          |tok AS (
          |  SELECT doc_id, source,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE (SELECT sum(greatest(1, CAST(ceil(length(w) / 4.0) AS INT)))
          |               FROM unnest(regexp_split_to_array(trim(text), '\s+')) t(w)) END AS BIGINT) AS n_tok
          |  FROM train),
          |packed AS (
          |  SELECT source, doc_id, n_tok,
          |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS stream_pos
          |  FROM tok)
          |SELECT source, doc_id, n_tok, stream_pos,
          |       CAST(stream_pos // 2048 AS BIGINT) AS seq_id
          |FROM packed""".stripMargin,

      "q40_multimodal_meta" ->
        """SELECT CAST(doc_id AS VARCHAR) AS media_id,
          |  ['image', 'audio', 'video'][CAST((doc_id * 7) % 3 AS INT) + 1] AS media_type,
          |  64 + (doc_id * 31) % 1985 AS width,
          |  64 + (doc_id * 37) % 1985 AS height,
          |  128 + (doc_id * 13) % 1024 AS payload_bytes,
          |  true AS valid
          |FROM documents""".stripMargin,

      "q41_frame_sample" ->
        """SELECT CAST(doc_id AS VARCHAR) AS media_id,
          |  greatest((128 + (doc_id * 13) % 1024) // 64 - 1, 0) // 4 + 1 AS frames
          |FROM documents WHERE (doc_id * 7) % 3 = 2""".stripMargin,

      "q42_multimodal_features" ->
        """SELECT CAST(doc_id AS VARCHAR) AS media_id,
          |  CASE WHEN (doc_id % 256) % 8 = 0 THEN 1.0 ELSE 0.0 END AS f0
          |FROM documents""".stripMargin,

      "q43_image_decode" ->
        """WITH g AS (SELECT doc_id AS id, CAST(8 + doc_id % 9 AS INT) AS w,
          |                  CAST(8 + (doc_id*3) % 9 AS INT) AS h FROM documents),
          |px AS (
          |  SELECT id, w, h, xs.x AS x, ys.y AS y
          |  FROM g, LATERAL (SELECT unnest(generate_series(0, w-1)) AS x) xs,
          |          LATERAL (SELECT unnest(generate_series(0, h-1)) AS y) ys)
          |SELECT CAST(id AS VARCHAR) AS media_id, any_value(w) AS width, any_value(h) AS height,
          |  round(avg((id*31 + x + y) % 256), 4) AS mr,
          |  round(avg((id*37 + x) % 256), 4) AS mg,
          |  round(avg((id*41 + y) % 256), 4) AS mb
          |FROM px GROUP BY id""".stripMargin,

      "q44_wav_decode" ->
        """WITH g AS (SELECT doc_id AS id, CAST(64 + doc_id % 129 AS INT) AS n FROM documents),
          |smp AS (SELECT id, n, s.i AS i FROM g,
          |        LATERAL (SELECT unnest(generate_series(0, n-1)) AS i) s)
          |SELECT CAST(id AS VARCHAR) AS media_id, 16000 AS rate, any_value(n) AS n_samples,
          |  round(avg(abs((id*7 + i*13) % 251 - 125)), 4) AS ma
          |FROM smp GROUP BY id""".stripMargin,

      // identical closed form to q43: the PNG container is lossless, so
      // the javax.imageio round trip must land on the same channel means
      "q45_png_decode" ->
        """WITH g AS (SELECT doc_id AS id, CAST(8 + doc_id % 9 AS INT) AS w,
          |                  CAST(8 + (doc_id*3) % 9 AS INT) AS h FROM documents),
          |px AS (
          |  SELECT id, w, h, xs.x AS x, ys.y AS y
          |  FROM g, LATERAL (SELECT unnest(generate_series(0, w-1)) AS x) xs,
          |          LATERAL (SELECT unnest(generate_series(0, h-1)) AS y) ys)
          |SELECT CAST(id AS VARCHAR) AS media_id, any_value(w) AS width, any_value(h) AS height,
          |  round(avg((id*31 + x + y) % 256), 4) AS mr,
          |  round(avg((id*37 + x) % 256), 4) AS mg,
          |  round(avg((id*41 + y) % 256), 4) AS mb
          |FROM px GROUP BY id""".stripMargin,

      // q46: q21's quadratic pair recomputation + a recursive-CTE
      // transitive closure → per-doc component minimum = cluster_id
      "q46_dedup_clusters" ->
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id AS id,
          |    list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 1)),
          |                  i -> substring(text, i, 5))) AS s
          |  FROM documents),
          |p AS (
          |  SELECT a.id AS id_a, b.id AS id_b,
          |    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS sa, len(b.s) AS sb
          |  FROM sh a JOIN sh b ON a.id < b.id),
          |pj AS (SELECT id_a, id_b FROM p WHERE inter * 1.0 / (sa + sb - inter) >= 0.5),
          |e AS (SELECT id_a AS u, id_b AS v FROM pj UNION SELECT id_b, id_a FROM pj),
          |reach(u, v) AS (
          |  SELECT u, v FROM e
          |  UNION
          |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u),
          |cl AS (
          |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
          |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
          |  GROUP BY d.doc_id)
          |SELECT doc_id, cluster_id,
          |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
          |FROM cl""".stripMargin,

      "q47_source_quota" ->
        """WITH r AS (
          |  SELECT source, doc_id,
          |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
          |  FROM documents)
          |SELECT source, doc_id, rk FROM r WHERE rk <= 10""".stripMargin,

      // q48: the distributed prefix-sum selection must equal the plain
      // window cumulative sum over the same total order
      "q48_token_budget" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, n_tok,
          |    sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM w)
          |SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum
          |FROM c WHERE cum <= (SELECT CAST(sum(n_tok) // 2 AS BIGINT) FROM w)""".stripMargin,

      // q49: word 3-grams per doc (same slice/join convention as q34),
      // benchmark = doc_id % 50 = 0, count distinct overlapping grams
      "q49_decontaminate" ->
        """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
          |           FROM documents),
          |g AS (SELECT doc_id,
          |        list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 1)),
          |                      i -> array_to_string(ws[i:i+2], ' '))) AS gs
          |      FROM w),
          |b AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 50 = 0),
          |c AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 50 <> 0)
          |SELECT c.doc_id, count(*) AS hits FROM c JOIN b USING (gram)
          |GROUP BY c.doc_id HAVING count(*) >= 3""".stripMargin,

      "q50_repetition" ->
        """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |           FROM documents),
          |c AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2),
          |t AS (SELECT doc_id, w AS top_word, cnt AS top_cnt,
          |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w) AS rk FROM c),
          |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, count(*) AS n_distinct
          |      FROM c GROUP BY 1)
          |SELECT s.doc_id, s.n_words, s.n_distinct,
          |  round(1.0 - s.n_distinct * 1.0 / s.n_words, 4) AS dup_frac,
          |  t.top_word, round(t.top_cnt * 1.0 / s.n_words, 4) AS top_frac
          |FROM s JOIN t USING (doc_id) WHERE t.rk = 1""".stripMargin,

      // q51: same quadratic exact-jaccard as q21, restricted to pairs
      // with a batch member; the batch is the portable md5 bucket-0
      // slice (hex→int recipe identical to q35's oracle)
      "q51_incremental_dedup" ->
        """WITH h AS (SELECT doc_id, text,
          |    CAST(list_sum(list_transform(range(0, 8), i ->
          |      CAST(strpos('0123456789abcdef',
          |             substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
          |        << CAST(4 * (7 - i) AS INT))) % 5 AS INT) AS bucket FROM documents),
          |sh AS (SELECT doc_id AS id, bucket = 0 AS is_batch,
          |    list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 1)),
          |                  i -> substring(text, i, 5))) AS s FROM h),
          |b AS (SELECT * FROM sh WHERE is_batch),
          |c AS (SELECT * FROM sh WHERE NOT is_batch),
          |p AS (
          |  SELECT b.id AS id_new, c.id AS id_match,
          |    len(list_intersect(b.s, c.s)) AS inter, len(b.s) AS sa, len(c.s) AS sb
          |  FROM b CROSS JOIN c
          |  UNION ALL
          |  SELECT x.id, y.id, len(list_intersect(x.s, y.s)), len(x.s), len(y.s)
          |  FROM b x JOIN b y ON x.id < y.id)
          |SELECT id_new, id_match, round(inter * 1.0 / (sa + sb - inter), 4) AS j
          |FROM p WHERE inter * 1.0 / (sa + sb - inter) >= 0.5""".stripMargin,

      // q52: identical augmentation (md5 bucket-0 slice) + identical
      // staged scrub, RE2 side; counts are per-stage like the Spark op
      "q52_pii_scrub" ->
        """WITH h AS (SELECT doc_id, text,
          |    CAST(list_sum(list_transform(range(0, 8), i ->
          |      CAST(strpos('0123456789abcdef',
          |             substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
          |        << CAST(4 * (7 - i) AS INT))) % 4 AS INT) AS bucket FROM documents),
          |a AS (SELECT doc_id,
          |    CASE WHEN bucket = 0 THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
          |      || '@mail.example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
          |      || '.7 or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |    ELSE text END AS t0 FROM h),
          |s1 AS (SELECT doc_id, t0,
          |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1 FROM a),
          |s2 AS (SELECT *, regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2 FROM s1),
          |s3 AS (SELECT *, regexp_replace(t2, '\b\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS t3 FROM s2)
          |SELECT doc_id,
          |  len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          |  len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
          |  len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{4}\b')) AS n_phones,
          |  t3 AS scrubbed
          |FROM s3""".stripMargin
    )
  }
}
