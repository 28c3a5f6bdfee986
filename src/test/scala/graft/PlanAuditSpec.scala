package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.meta._
import graft.table.TsTable

/** Physical-plan audits: lock in the plan shapes that make the engine
  * viable at 100 TB — predicate pushdown to the parquet scan, column
  * pruning in ReadSchema, broadcast joins for small dims, whole-stage
  * codegen over the hot paths, and no accidental cartesian products. A
  * regression here is a performance bug even when results stay correct. */
class PlanAuditSpec extends SparkFunSuite {

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private lazy val table: TsTable = {
    val root = tmpDir("plan-audit")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 2000, numFiles = 4))
    t
  }

  test("TsTable scan: filters push to parquet, projection prunes ReadSchema") {
    val q = table.scan(spark).where(col("n_tok") > 500).select("doc_id", "n_tok")
    val plan = executed(q)
    assert(plan.contains("PushedFilters: [IsNotNull(n_tok), GreaterThan(n_tok,500)]"),
      s"filter not pushed to scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:string,n_tok:int>"),
      s"tokens column not pruned from scan:\n$plan")
    // whole-stage-codegen spans print as "*(n) Op" in the physical plan
    assert(plan.contains("*("), s"scan+filter not codegen'd:\n$plan")
  }

  test("relational queries: broadcast joins chosen, no cartesian products") {
    val dir = "/root/testdata/sf0.001"
    val p3 = executed(SparkEntry.queries("q03_join")(spark, dir))
    assert(p3.contains("BroadcastHashJoin"), s"q03 lost its broadcast join:\n${p3.take(1500)}")
    assert(!p3.contains("CartesianProduct"))
    val p8 = executed(SparkEntry.queries("q08_3way_join")(spark, dir))
    assert(p8.contains("BroadcastHashJoin"))
    assert(!p8.contains("CartesianProduct"))
  }

  test("dedup pipelines: keyed joins only — never a cartesian product") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pMh = executed(graft.ops.Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.5))
    assert(!pMh.contains("CartesianProduct"), "minhash LSH degenerated to all-pairs")
    val pSh = executed(graft.ops.Dedup.simhashPairs(docs, "text", "doc_id"))
    assert(!pSh.contains("CartesianProduct"), "simhash blocking degenerated to all-pairs")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val pNd = executed(graft.ops.Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = 0.9, planes = 8, probes = 2))
    assert(!pNd.contains("CartesianProduct"), "embedding LSH degenerated to all-pairs")
  }

  test("incremental dedup: keyed index joins only; pii scrub is a pure projection") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isBatch = graft.ops.Sampling.md5Bucket(col("doc_id"), 5) === 0
    val corpus = docs.where(!isBatch)
    val idx = graft.ops.Dedup.minhashIndex(corpus, "text", "doc_id")
    val p = executed(graft.ops.Dedup.dedupAgainstIndex(docs.where(isBatch), "text", "doc_id",
      idx, corpus, "text", "doc_id", threshold = 0.5))
    assert(!p.contains("CartesianProduct"), "incremental dedup degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "incremental dedup lost its keyed joins")
    // scrubPii: one codegen'd projection, zero exchange
    val scrub = graft.ops.TextOps.scrubPii(docs, "text", "doc_id")
    val ps = executed(scrub)
    assert(!ps.contains("Exchange"), s"pii scrub must not shuffle:\n$ps")
    assert(ps.contains("*("), s"pii scrub not codegen'd:\n$ps")
  }

  test("IVF centroid assignment is a pure projection: no exchange, no window") {
    // round-2 finding: assignment exploded corpus x centroids and ranked
    // with Window.partitionBy(id) — an n x NC shuffle per Lloyd iteration.
    // The broadcast-argmax kernel must keep assignment shuffle-free.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = graft.ops.Ann.centroids(emb, 8, lloydIters = 0)
    val assigned = graft.ops.Ann.buildIvfIndexWith(emb, cents)
    val plan = executed(assigned)
    assert(!plan.contains("Window"), s"assignment ranks with a window again:\n$plan")
    assert(!plan.contains("Exchange"), s"assignment shuffles the corpus:\n$plan")
    assert(plan.contains("nearest_centroids"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("nearest_centroids") && l.trim.startsWith("*(")),
      s"argmax kernel fell out of codegen:\n$plan")
  }

  test("native hash kernels run inside whole-stage codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(graft.ops.Dedup.minhashSignature("text", 64, 5).as("sig"),
      graft.ops.Dedup.simhash("text").as("sh"))
    val plan = executed(q)
    // the kernel projection prints inside a "*(n)" codegen span — the SQL
    // higher-order-function forms they replaced never codegen
    assert(plan.contains("minhash_signature") && plan.contains("simhash64"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("minhash_signature") && l.trim.startsWith("*(")),
      s"minhash kernel projection fell out of codegen:\n$plan")
  }

  test("sampling is a zero-shuffle projection; vocab top-k is partial-agg + TakeOrdered") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pS = executed(graft.ops.Sampling.split(docs.select("doc_id"), "doc_id"))
    assert(!pS.contains("Exchange"), s"split membership must not shuffle:\n$pS")
    assert(pS.contains("*("), s"split projection fell out of codegen:\n$pS")

    val toks = docs.select(split(col("text"), " ").as("tokens"))
    val pV = executed(graft.ops.TextOps.vocabTopK(toks, "tokens", 10))
    assert(pV.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$pV")
    // map-side partial aggregation before the exchange
    assert(pV.indexOf("HashAggregate") != pV.lastIndexOf("HashAggregate"),
      s"vocab count lacks partial aggregation:\n$pV")
  }

  test("per-group quota runs as a map-side WindowGroupLimit, not a full sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executed(graft.ops.Sampling.perGroupQuota(
      docs, "source", 10, col("n_chars").desc, col("doc_id")))
    // InferWindowGroupLimit must rewrite the rank filter into bounded
    // per-group top-N heaps on BOTH sides of the exchange — without it a
    // 10⁹-row hot domain ships and sorts all its rows for 10 survivors
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not rewritten to WindowGroupLimit:\n$plan")
    assert(plan.indexOf("WindowGroupLimit") != plan.lastIndexOf("WindowGroupLimit"),
      s"missing map-side (partial) WindowGroupLimit before the exchange:\n$plan")
  }

  test("budget selection prunes partitions past the budget: pass 2 reads only the prefix") {
    import spark.implicits._
    val df = (0 until 4000).map(i => (i.toLong, 100L)).toDF("doc_id", "n_tok")
    // budget = 2.5% of total: with 16 range partitions only the first
    // should produce rows, and skipped partitions exit without scanning
    val sel = graft.ops.Sampling.takeUntilBudget(df, "n_tok", 10000L,
      Seq(col("doc_id")), partitions = 16)
    assert(sel.count() == 100)
    val nonEmpty = sel.groupBy(spark_partition_id()).count().count()
    assert(nonEmpty == 1, s"budget prefix should live in one range partition, got $nonEmpty")
  }

  test("decontamination broadcasts the benchmark gram set — corpus side never shuffles pre-count") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executed(graft.ops.TextOps.contaminationHits(
      docs.where(col("doc_id") % 50 =!= 0), "text", "doc_id",
      docs.where(col("doc_id") % 50 === 0), "text", n = 4))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast:\n$plan")
    // the only exchanges allowed: broadcast of the bench side + the final
    // per-doc count aggregation — the exploded corpus must not sort-merge
    assert(!plan.contains("SortMergeJoin"),
      s"corpus grams shuffled into a sort-merge join:\n$plan")
  }

  test("token aggregation over the table scan stays inside codegen") {
    val q = table.scan(spark)
      .select(sum(expr("aggregate(tokens, 0L, (a, x) -> a + x)")).as("s"))
    val plan = executed(q)
    assert(plan.contains("*(") && plan.contains("HashAggregate"),
      s"token aggregate fell out of codegen:\n$plan")
    // partial aggregation before the exchange (map-side combine)
    assert(plan.indexOf("HashAggregate") >= 0 &&
      plan.indexOf("HashAggregate") != plan.lastIndexOf("HashAggregate"),
      "no partial aggregation stage")
  }

  test("DV'd snapshot: one vectorized scan; the mask reads each file's _metadata.dv_path") {
    val root = tmpDir("plan-dv")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    // two disjoint-range appends so the MOR delete grazes only batch 1
    t.append(TokenGen.generate(spark, 500, numFiles = 2))
    t.append(TokenGen.generate(spark, 500, idStart = 90000L, numFiles = 2))
    graft.maintain.DeleteWhere.deleteMor(spark, t,
      col("doc_id") < "doc-000000000100")
    assert(t.state.liveSegments.count(_.dvPath.isDefined) > 0)
    assert(t.state.liveSegments.count(_.dvPath.isEmpty) > 0)

    val q = t.scan(spark).where(col("n_tok") > 500).select("doc_id", "n_tok")
    val plan = executed(q)
    // DV'd and clean files share one relation: no union, one Parquet scan
    assert(!plan.contains("Union"), s"DV'd snapshot planned a union:\n$plan")
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 1, s"expected one parquet scan:\n$plan")
    val scan = scans.head
    assert(scan.contains("Batched: true"), s"the scan left the vectorized reader:\n$plan")
    assert(scan.contains("GreaterThan(n_tok,500)"), s"the user predicate was not pushed:\n$plan")
    // the scan reads the row position and the file's DV path constant, and
    // the mask tests them: no per-file map rides in the plan
    assert(scan.contains("_tmp_metadata_row_index") && scan.contains("dv_path"),
      s"the scan does not request row_index and dv_path:\n$plan")
    assert("dv_deleted\\(_metadata#\\d+\\.dv_path, _metadata#\\d+\\.row_index\\)".r
      .findFirstIn(plan).isDefined, s"the mask does not read _metadata.dv_path:\n$plan")
  }

  test("DV'd snapshot: only grazed files pay the filter; pushdown reaches both branches") {
    // the two branches are the two kinds of file the one relation reads:
    // grazed (a DV sidecar) and clean (a NULL dv_path)
    val root = tmpDir("plan-dv-branches")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 500, numFiles = 2))
    t.append(TokenGen.generate(spark, 500, idStart = 90000L, numFiles = 2))
    val cond = col("doc_id") < "doc-000000000100"
    graft.maintain.DeleteWhere.deleteMor(spark, t, cond)
    val segs = t.state.liveSegments
    val sidecars = segs.flatMap(_.dvPath).map(p => java.nio.file.Paths.get(root, p))
    assert(sidecars.nonEmpty && segs.exists(_.dvPath.isEmpty))
    val oracle = spark.read.parquet(segs.map(s => s"$root/${s.path}"): _*).where(!cond)

    // only grazed files pay: with every sidecar moved away, a read the
    // listing prunes to clean files succeeds (their rows never look one
    // up), while a read reaching a grazed file fails on the missing sidecar
    val cleanOnly = col("doc_id") >= "doc-000000090000"
    val moved = sidecars.map(p => p -> p.resolveSibling(p.getFileName.toString + ".away"))
    moved.foreach { case (p, away) => java.nio.file.Files.move(p, away) }
    try {
      assert(t.scan(spark).where(cleanOnly).count() == oracle.where(cleanOnly).count())
      val e = intercept[Exception](t.scan(spark).where(!cleanOnly).count())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[java.nio.file.NoSuchFileException]),
        s"a grazed file's read did not look up its sidecar: $e")
    } finally moved.foreach { case (p, away) => java.nio.file.Files.move(away, p) }

    // pushdown reaches both: the predicate is pushed into the one scan, and
    // its survivors come from grazed and clean files, less the deleted rows
    val q = t.scan(spark).where(col("n_tok") > 500)
    val plan = executed(q.select("doc_id", "n_tok"))
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 1 && scans.head.contains("GreaterThan(n_tok,500)"),
      s"the user predicate was not pushed into the scan:\n$plan")
    val got = q.select(col("doc_id"), col("_metadata.dv_path").isNotNull.as("grazed")).collect()
    assert(got.map(_.getString(0)).toSet ==
      oracle.where(col("n_tok") > 500).collect().map(_.getAs[String]("doc_id")).toSet)
    assert(got.map(_.getBoolean(1)).toSet == Set(true, false),
      "the survivors do not come from both grazed and clean files")
  }

  test("snapshot diff: fast path plans no join; general path joins keyed (no NLJ)") {
    val root = tmpDir("plan-diff")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val v1 = t.version
    t.append(TokenGen.generate(spark, 100, idStart = 90000L, numFiles = 1))
    val fast = graft.maintain.SnapshotDiff.diff(spark, t, v1, t.version, "doc_id")
    val fastPlan = executed(fast)
    assert(!fastPlan.toLowerCase.contains("join"),
      s"append-only diff must read only the added files:\n$fastPlan")

    graft.maintain.DeleteWhere.delete(spark, t, col("n_tok") < 300)
    val gen = graft.maintain.SnapshotDiff.diff(spark, t, v1, t.version, "doc_id")
    val genPlan = executed(gen)
    assert(genPlan.contains("Join") || genPlan.contains("join"), "general path must join")
    assert(!genPlan.contains("BroadcastNestedLoopJoin") && !genPlan.contains("CartesianProduct"),
      s"diff join must stay keyed:\n$genPlan")
  }

  /** The physical plans of the SQL executions `f` runs, and the number of
    * jobs it runs outside any SQL execution (listing or footer-inference
    * jobs of a `spark.read.parquet(paths)`). */
  private def audited(f: => Unit): (Seq[String], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bare = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          bare.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.graft.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (plans.asScala.toSeq, bare.get)
  }

  test("keyed MERGE: no join below the key-set cap, one input scan, keyed joins above") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the file scans of an executed plan, through adaptive stages and into
    // cached relations: a scan node is shared by every plan reading its cache
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val cap = graft.maintain.MergeInto.BloomKeyCap.toInt
    for (rows <- Seq(cap / 4, cap + 50); mor <- Seq(false, true)) {
      val what = s"${if (mor) "MOR" else "CoW"} MERGE of $rows keys"
      val t = TsTable.create(tmpDir("plan-merge"), TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
      t.append(TokenGen.generate(spark, 800, numFiles = 2))
      // 100 of the input keys are live, the rest insert
      val dir = tmpDir("plan-merge-input")
      TokenGen.generate(spark, rows, idStart = 700L).withColumn("source", lit("rev"))
        .write.mode("overwrite").parquet(dir)
      val upd = spark.read.parquet(dir)
      var executed = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
      val (plans, _) = audited {
        executed = PlanCapture(spark) {
          val r = if (mor) graft.maintain.MergeInto.mergeMor(spark, t, upd)
                  else graft.maintain.MergeInto.merge(spark, t, upd)
          assert(r.updated == math.min(rows, 100) && r.candidates > 0, s"$what: $r")
        }
      }
      val all = plans.mkString("\n")
      if (rows <= cap) {
        assert(!all.contains("Join"), s"$what planned a join:\n$all")
        val inputScans = executed.flatMap(scans)
          .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
        assert(inputScans.map(System.identityHashCode).distinct.size == 1,
          s"$what scanned its input in ${inputScans.size} plans:\n$all")
      } else {
        assert(all.contains("Join"), s"$what planned no keyed join:\n$all")
        assert(!all.contains("BroadcastNestedLoopJoin") && !all.contains("CartesianProduct"),
          s"$what must join on the key:\n$all")
      }
    }
  }

  test("change feed, snapshot diff and exact refinement read segments through TsFileIndex") {
    val root = tmpDir("plan-reader")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val v1 = t.version
    t.append(TokenGen.generate(spark, 100, idStart = 90000L, numFiles = 2))
    val keys = spark.range(300).select(format_string("doc-%012d", col("id")).as("doc_id"))
    val reads: Seq[(String, () => Unit)] = Seq(
      "ChangeFeed.read" -> (() => graft.maintain.ChangeFeed.read(spark, t, 0L, t.version).collect()),
      "SnapshotDiff fast path" ->
        (() => graft.maintain.SnapshotDiff.diff(spark, t, v1, t.version, "doc_id").collect()),
      "refineCandidatesExact" -> (() => graft.maintain.RowLevel.refineCandidatesExact(
        spark, t, keys, "doc_id", t.state.liveSegments)))
    reads.foreach { case (name, run) =>
      val (plans, bareJobs) = audited(run())
      val scans = plans.flatMap(_.linesIterator.filter(_.startsWith("Location:")))
      assert(scans.nonEmpty, s"$name planned no file scan:\n${plans.mkString("\n")}")
      assert(scans.forall(_.startsWith("Location: TsFileIndex")),
        s"$name must plan over the manifest-backed TsFileIndex:\n${scans.mkString("\n")}")
      assert(bareJobs == 0, s"$name ran $bareJobs listing/footer-inference job(s)")
    }
  }

  test("clustered writes route on sampled bounds: no plan holds a range exchange") {
    def tokens(curve: String, rows: Int): TsTable = {
      val t = TsTable.create(tmpDir(s"plan-$curve"), TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), curve)), None, None))
      t.append(TokenGen.generate(spark, rows, numFiles = 4, lenSpread = 64))
      t
    }
    def bytes(t: TsTable) = t.state.liveSegments.flatMap(_.fileSize).sum
    val upd = TokenGen.generate(spark, 100, idStart = 50L, lenSpread = 64)
      .withColumn("source", lit("rev"))
    val fresh = TokenGen.generate(spark, 100, idStart = 90000L, lenSpread = 64)
    val writes: Seq[(String, () => Unit)] = Seq(
      "zorder compaction bin" -> { () =>
        val t = tokens("zorder", 2000)
        graft.maintain.Compaction.run(spark, t, targetFileSize = bytes(t) / 3)
      },
      "lexico compaction bin" -> { () =>
        val t = tokens("lexico", 2000)
        graft.maintain.Compaction.run(spark, t, targetFileSize = bytes(t) / 3)
      },
      "CoW MERGE with candidates" -> { () =>
        val r = graft.maintain.MergeInto.merge(spark, tokens("zorder", 800), upd)
        assert(r.candidates > 0)
      },
      "CoW MERGE without candidates" -> { () =>
        val r = graft.maintain.MergeInto.merge(spark, tokens("zorder", 800), fresh)
        assert(r.candidates == 0 && r.inserted == 100)
      },
      "MOR MERGE" -> { () => graft.maintain.MergeInto.mergeMor(spark, tokens("zorder", 800), upd) },
      "MOR UPDATE" -> { () =>
        val r = graft.maintain.UpdateWhere.updateMor(spark, tokens("zorder", 800),
          col("doc_id") < "doc-000000000200", Map("source" -> lit("rev")))
        assert(r.rowsUpdated == 200)
      })
    val ranged = writes.flatMap { case (name, run) =>
      val plans = PlanCapture(spark)(run())
      assert(plans.exists(_.toString.contains("WriteFiles")), s"$name: no write captured")
      plans.map(_.toString).filter(_.toLowerCase.contains("rangepartitioning"))
        .map(p => s"$name:\n$p")
    }
    assert(ranged.isEmpty, s"range exchange in a clustered write:\n${ranged.mkString("\n")}")
  }
}
