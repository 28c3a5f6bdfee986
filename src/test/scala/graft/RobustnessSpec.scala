package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.log._
import graft.maintain._
import graft.meta._
import graft.table._

/** Edge cases ported from the reference's integration suites plus
  * resume-mid-job behavior for the maintenance engine. */
class RobustnessSpec extends SparkFunSuite {

  private def tokenMeta(curve: String = "zorder") = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), curve)), None, None)

  test("leftover tmp files in the log dir are ignored by replay (log_integration parity)") {
    val root = tmpDir("tmp-files")
    val t = TsTable.create(root, tokenMeta())
    t.append(TokenGen.generate(spark, 50, numFiles = 1))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_timeseries_log", ".CURRENT123.tmp"), "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_timeseries_log", ".ckpt999.tmp"), "junk")
    val reopened = TsTable.open(root)
    assert(reopened.version == 2L && reopened.scan(spark).count() == 50)
  }

  test("compaction resumes mid-job: pre-journaled bins are skipped, the rest execute") {
    val root = tmpDir("resume-mid")
    val t = TsTable.create(root, tokenMeta())
    t.append(TokenGen.generate(spark, 2000, numFiles = 20))
    val bins = Compaction.plan(t.state.liveSegments, targetFileSize = 4L * 1024 * 1024, groupFactor = 1)
    assert(bins.size >= 2, s"fixture needs >=2 bins, got ${bins.size}")
    // simulate a crash AFTER bin 0 committed: journal it manually, leave data as-is
    val journal = new LineageJournal(root, "job-crash")
    journal.record(BinRecord(bins.head.id, bins.head.segments.map(_.segmentId), Some(t.version), None))
    val rep = Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024, jobId = "job-crash", groupFactor = 1)
    assert(rep.binsSkipped >= 1, "journaled bin must be skipped")
    assert(rep.binsExecuted >= 1, "remaining bins must execute")
    // rows from the "crashed" bin still present (its inputs were never swapped)
    assert(t.scan(spark).count() == 2000)
  }

  test("crash-resume after a COMMITTED bin: renumbered remaining bins still execute") {
    // the hard resume case: bin 0 committed before the crash, so its
    // inputs are gone from the manifest and the re-run replans DIFFERENT
    // bins — ordinal bin ids would renumber them onto the completed id
    // and skip all remaining work (round-3 review finding)
    val root = tmpDir("resume-post-commit")
    val t = TsTable.create(root, tokenMeta())
    t.append(TokenGen.generate(spark, 2000, numFiles = 20))
    val bins = Compaction.plan(t.state.liveSegments, targetFileSize = 4L * 1024 * 1024, groupFactor = 1)
    assert(bins.size >= 2, s"fixture needs >=2 bins, got ${bins.size}")
    val b0 = bins.head
    t.transact() { tx =>
      tx.remove(b0.segments)
      tx.stage(spark.read.parquet(b0.segments.map(s => s"$root/${s.path}"): _*))
    }
    val journal = new LineageJournal(root, "job-crash2")
    journal.record(BinRecord(b0.id, b0.segments.map(_.segmentId), Some(t.version), None))
    val rep = Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024,
      jobId = "job-crash2", groupFactor = 1)
    assert(rep.binsExecuted >= 1, s"resume skipped all remaining work: $rep")
    assert(t.scan(spark).count() == 2000)
  }

  test("lexico clustering: byte-identical rows and perfect leading-column pruning") {
    val root = tmpDir("lexico")
    val t = TsTable.create(root, tokenMeta("lexico"))
    t.append(TokenGen.generate(spark, 4000, numFiles = 16))
    val before = t.scan(spark).select(col("doc_id"), hash(col("tokens")).as("h"))
      .orderBy("doc_id").collect()
    Compaction.run(spark, t, targetFileSize = 1L * 1024 * 1024)
    val after = t.scan(spark).select(col("doc_id"), hash(col("tokens")).as("h"))
      .orderBy("doc_id").collect()
    before.zip(after).foreach { case (b, a) => assert(b == a) }
    // hierarchical sort => each file covers a contiguous source range; a
    // rare source should hit very few files
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val total = t.state.liveSegments.size
    val hit = filesRead(t.scan(spark).where(col("source") === "src15"))
    assert(hit <= math.max(2, total / 3), s"lexico source scan read $hit of $total files")
  }

  test("time-series append without the time column is rejected") {
    import spark.implicits._
    val root = tmpDir("no-ts")
    val t = TsTable.create(root, TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    val bad = Seq((1L, 2.0)).toDF("not_ts", "price")
    intercept[SchemaMismatchException](t.append(bad))
  }

  test("expire refuses out-of-range watermarks; double expire is idempotent") {
    val root = tmpDir("expire-edge")
    val t = TsTable.create(root, tokenMeta())
    t.append(TokenGen.generate(spark, 200, numFiles = 4))
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    intercept[IllegalArgumentException](Expire.expire(t, 0L))
    intercept[IllegalArgumentException](Expire.expire(t, t.version + 1))
    val r1 = Expire.expire(t, t.version)
    val r2 = Expire.expire(t, t.version)
    assert(r1.dataFilesDeleted == 4 && r2.dataFilesDeleted == 0)
    assert(TsTable.open(root).scan(spark).count() == 200)
  }

  test("coverage load: a missing snapshot recovers from sidecars and writes nothing") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("cov-heal")
    val t = TsTable.create(root, TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    import spark.implicits._
    val df = Seq(1L, 61L, 180L).toDF("s").select(col("s").cast("timestamp").as("ts"))
    t.append(df.coalesce(1))
    val ptr = t.state.tableCoverage.get
    // corrupt: delete the table snapshot sidecar
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, ptr.coveragePath))
    // readonly fallback unions per-segment sidecars
    val cov = t.loadTableCoverage()
    assert(cov.cardinality == 3L)
    // recovery writes nothing: no uncommitted snapshot appears
    val tableCov = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "_coverage", "table")).toList
    assert(tableCov.isEmpty)
    // coverage queries still answer
    assert(t.coverageRatioForRange(0L, 240L * 1000000L) == 0.75)
  }

  test("expire keeps only the table coverage snapshots retained versions reference") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmpDir("cov-expire")
    val t = TsTable.create(root, TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    // every commit writes a fresh snapshot; four appends leave four
    for (s <- Seq(1L, 61L, 180L, 300L))
      t.append(Seq(s).toDF("s").select(col("s").cast("timestamp").as("ts")))
    def snapshots: Set[String] = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_coverage", "table"))
      try { import scala.jdk.CollectionConverters._; l.iterator().asScala.map(_.getFileName.toString).toSet }
      finally l.close()
    }
    assert(snapshots.size == 4)
    val ratio = t.coverageRatioForRange(0L, 360L * 1000000L)
    def pointer(v: Long): Set[String] = TableState.rebuildAt(t.store, v).tableCoverage
      .map(p => java.nio.file.Paths.get(p.coveragePath).getFileName.toString).toSet
    val keep = t.version - 1
    val referenced = pointer(keep) ++ pointer(t.version)
    Expire.expire(t, keep, stagingGraceMs = 0L)
    assert(snapshots == referenced, s"kept $snapshots, retained versions reference $referenced")
    assert(TsTable.open(root).coverageRatioForRange(0L, 360L * 1000000L) == ratio)
    Expire.expire(t, t.version, stagingGraceMs = 0L)
    assert(snapshots == pointer(t.version) && snapshots.size == 1)
    assert(TsTable.open(root).coverageRatioForRange(0L, 360L * 1000000L) == ratio)
  }

  test("concurrent appenders: OCC rebase lands every append exactly once") {
    val root = tmpDir("occ-stress")
    TsTable.create(root, tokenMeta())
    val threads = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            val t = TsTable.open(root) // independent handle per writer
            t.append(TokenGen.generate(spark, 200, idStart = i * 100000L).coalesce(1),
              maxRetries = 30)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val t = TsTable.open(root)
    assert(t.version == threads + 1L, // +1 = create commit
      s"expected ${threads + 1} commits, got v${t.version}")
    assert(t.scan(spark).count() == threads * 200L, "rows lost or duplicated under OCC races")
    assert(t.scan(spark).select("doc_id").distinct().count() == threads * 200L)
  }

  test("merge into a table concurrently compacted: stale candidates abort cleanly") {
    val root = tmpDir("merge-race")
    val t1 = TsTable.create(root, tokenMeta())
    t1.append(TokenGen.generate(spark, 500, numFiles = 4))
    // t2 opens the same table; t1 compacts (rewrites all files)
    val t2 = TsTable.open(root)
    Compaction.run(spark, t1, targetFileSize = 64L * 1024 * 1024)
    // merge via t2 refreshes internally and must operate on live files
    val rep = MergeInto.merge(spark, t2, TokenGen.generateForIds(spark, Seq("doc-000000000001"), salt = "v2"))
    assert(rep.updated == 1L)
    assert(t2.scan(spark).count() == 500)
  }

  test("coverage build is distributed: ~10^5 singleton-run buckets, partials merged per file") {
    val root = tmpDir("wide-cov")
    val t = TsTable.create(root, TableMeta("ev",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1s"), None)), None, None))
    val n = 120000L
    // stride-7s rows: n distinct 1 s buckets, every run a singleton — the
    // worst case for run-length compression, and exactly the fine-bucket ×
    // wide-range shape whose (file, bucket) rows used to be collect()ed to
    // the driver (~3×10^7 rows for a year at 1 s buckets). Now the driver
    // receives one bitmap per staged file; the raw pairs stay distributed.
    val df = spark.range(n).select(
      timestamp_seconds(col("id") * 7 + 1000000L).as("ts"), col("id").as("v"))
    // tiny split size so each staged file spans several read partitions —
    // forces the partial-bitmap merge path (groupByKey union), not just
    // the one-partial-per-file fast case
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (64 * 1024).toString)
      t.append(df.repartition(2))
    } finally spark.conf.set(key, prev)
    val cov = t.loadTableCoverage()
    assert(cov.cardinality == n, s"expected $n covered buckets, got ${cov.cardinality}")
    assert(cov.runList.size == n, "stride-7 buckets must stay singleton runs")
  }

  test("vacuum completeness: random ops + injected crashes -> data/ is exactly the live set; commit path unwedged") {
    import java.nio.file.{Files => F, Paths => P}
    import java.nio.file.attribute.FileTime

    val grace = 10L * 60 * 1000 // far beyond the test's runtime
    def backdate(p: java.nio.file.Path): Unit =
      F.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis() - 3 * grace))

    for (seed <- Seq(7, 20260817)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"vacuum-$seed")
      val t = TsTable.create(root, tokenMeta())
      var nextId = 0L
      def append(n: Int): Unit = {
        t.append(TokenGen.generate(spark, n, idStart = nextId, lenSpread = 8, numFiles = 1))
        nextId += n
      }
      append(40)

      // debris that must SURVIVE every expire because it is in-grace (a
      // writer could still own it); names relative to the table root
      val freshData = scala.collection.mutable.Set.empty[String]
      val freshStaging = scala.collection.mutable.Set.empty[String]
      val freshSidecars = scala.collection.mutable.Set.empty[String]

      for (round <- 1 to 50) {
        // a real op every few rounds keeps the live set moving underneath
        if (round % 10 == 0) rnd.nextInt(4) match {
          case 0 => append(20)
          case 1 => Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024)
          case 2 =>
            val at = math.max(0L, rnd.nextLong(math.max(1L, nextId - 5)))
            MergeInto.merge(spark, t,
              TokenGen.generate(spark, 5, idStart = at, lenSpread = 8, numFiles = 1))
          case 3 =>
            DeleteWhere.delete(spark, t, col("n_tok") === lit(64 + rnd.nextInt(8)))
        }

        // inject one crash artifact; dead writers are backdated past the
        // grace, live ones left fresh (and must survive the vacuum)
        val dead = rnd.nextBoolean()
        rnd.nextInt(3) match {
          case 0 => // killed between df.write and the data/ move
            val d = P.get(root, s".staging-crash$round")
            F.createDirectories(d)
            F.write(d.resolve("part-00000.parquet"), Array.fill[Byte](64)(1))
            if (dead) { backdate(d.resolve("part-00000.parquet")); backdate(d) }
            else freshStaging += d.getFileName.toString
          case 1 => // killed between the data/ move and the commit
            val f = P.get(root, "data", f"crash$round%05d-orphan.parquet")
            F.write(f, Array.fill[Byte](128)(2))
            val cov = P.get(root, "_coverage", "segments", s"segcov-crash$round.cov")
            F.write(cov, Array.fill[Byte](16)(3))
            if (dead) { backdate(f); backdate(cov) }
            else { freshData += f.getFileName.toString; freshSidecars += cov.getFileName.toString }
          case 2 => // killed between commit-file CREATE_NEW and the CURRENT rename
            // (always dead: a live writer finishes the rename in ms, and an
            // in-grace orphan commit legitimately blocks new commits)
            t.refresh()
            val v = t.version + 1
            val f = P.get(root, "data", f"crash$round%05d-committed.parquet")
            F.write(f, Array.fill[Byte](128)(4))
            val seg = SegmentMeta(s"crash-$round", s"data/${f.getFileName}", "parquet",
              1L, Some(128L), Map.empty, None)
            val cp = P.get(root, "_timeseries_log", f"$v%010d.json")
            F.writeString(cp, Json.write(
              Commit(v, v - 1, System.currentTimeMillis(), Seq(LogAction.AddSegment(seg))).toJson))
            backdate(cp); backdate(f)
        }

        t.refresh()
        Expire.expire(t, t.version, stagingGraceMs = grace)

        // ---- the invariant -------------------------------------------
        t.refresh()
        val live = t.state.liveSegments.map(_.path.stripPrefix("data/")).toSet
        def listNames(rel: String): Set[String] = {
          val d = P.get(root, rel)
          if (!F.isDirectory(d)) Set.empty
          else {
            val s = F.list(d)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.filter(F.isRegularFile(_)).map(_.getFileName.toString).toSet
            } finally s.close()
          }
        }
        assert(listNames("data") == live ++ freshData,
          s"seed=$seed round=$round: data/ diverged\n  extra=${listNames("data") -- live -- freshData}\n  missing=${(live ++ freshData) -- listNames("data")}")
        val stagings = {
          val s = F.list(P.get(root))
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".staging-")).toSet
          } finally s.close()
        }
        assert(stagings == freshStaging,
          s"seed=$seed round=$round: staging debris diverged: $stagings vs $freshStaging")
        val liveCov = t.state.liveSegments.flatMap(_.coveragePath)
          .map(_.stripPrefix("_coverage/segments/")).toSet
        assert(listNames("_coverage/segments") == liveCov ++ freshSidecars,
          s"seed=$seed round=$round: sidecar debris diverged")
        // the log holds CURRENT and the watermark's commit and checkpoint:
        // nothing below it, no orphan commit above it
        assert(listNames("_timeseries_log") ==
          Set("CURRENT", f"${t.version}%010d.json", f"${t.version}%010d.ckpt.json"),
          s"seed=$seed round=$round: log debris ${listNames("_timeseries_log")}")

        // a previously-live writer dies eventually: age one fresh artifact
        if (rnd.nextBoolean()) {
          freshData.headOption.foreach { n => backdate(P.get(root, "data", n)); freshData -= n }
          freshStaging.headOption.foreach { n =>
            val d = P.get(root, n)
            if (F.isDirectory(d)) {
              val s = F.list(d)
              try { import scala.jdk.CollectionConverters._; s.iterator().asScala.foreach(backdate) }
              finally s.close()
            }
            backdate(d); freshStaging -= n
          }
          freshSidecars.headOption.foreach { n =>
            backdate(P.get(root, "_coverage", "segments", n)); freshSidecars -= n }
        }
      }

      // the commit path must be UNWEDGED despite the injected orphan
      // commits above CURRENT (the documented LogStore recovery gap the
      // vacuum now closes) — and the surviving rows must be exactly the
      // manifest's claim
      append(10)
      assert(t.scan(spark).count() == t.state.liveSegments.map(_.rowCount).sum)
    }
  }

  test("staging heartbeat keeps a live writer's tree fresh and cleans up on stop") {
    val root = tmpDir("hb")
    val staging = s"$root/.staging-test"
    val hb = StagingHeartbeat.start(staging, intervalMs = 50L)
    try {
      val f = java.nio.file.Paths.get(staging, ".heartbeat")
      // the beacon must NOT create the dir or touch before the committer
      // makes the dir: a pre-created non-empty tree would force df.write
      // mode(overwrite) to clear it, racing the touch
      Thread.sleep(200)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(staging)),
        "beacon created the staging dir before the committer")
      // once the committer creates the dir, touches begin within intervals
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      var waited = 0
      while (!java.nio.file.Files.exists(f) && waited < 100) { Thread.sleep(20); waited += 1 }
      assert(java.nio.file.Files.exists(f), "heartbeat file never appeared")
      val t1 = java.nio.file.Files.getLastModifiedTime(f).toMillis
      Thread.sleep(1200) // several intervals; mtime granularity can be 1s
      val t2 = java.nio.file.Files.getLastModifiedTime(f).toMillis
      assert(t2 > t1, s"heartbeat mtime did not advance ($t1 -> $t2)")
      // the fresh tree survives an expire pass with a grace shorter than
      // its age-since-creation (the exact window the advice flagged):
      // newestMtime sees the recent touch, so the dir is NOT reclaimed
      val t = TsTable.create(s"$root/tbl", TableMeta("t",
        TableKind.Clustered(ClusterSpec(Seq("doc_id"), "zorder")), None, None))
      t.append(TokenGen.generate(spark, 50, numFiles = 1))
      // move the staging dir INSIDE the table root so expire walks it
      val inRoot = java.nio.file.Paths.get(s"$root/tbl/.staging-live")
      java.nio.file.Files.createDirectories(inRoot)
      val hb2 = StagingHeartbeat.start(inRoot.toString, intervalMs = 50L)
      try {
        Thread.sleep(200)
        val rep = Expire.expire(t, t.version, stagingGraceMs = 1000L)
        assert(rep.stagingDirsDeleted == 0, "expire reclaimed a live writer's staging dir")
      } finally hb2.stop()
    } finally hb.stop()
    // stop() removes the beacon file and the then-empty dir
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(staging)),
      "stop() left heartbeat debris behind")
  }

  test("PathNorm.deleteTree removes a directory link, not the target's files") {
    import java.nio.file.{Files, Paths}
    val target = Paths.get(tmpDir("tree-target"))
    Files.writeString(target.resolve("keep.txt"), "keep")
    val root = Paths.get(tmpDir("tree-root"))
    Files.createDirectories(root.resolve("sub"))
    Files.writeString(root.resolve("sub/own.txt"), "own")
    Files.createSymbolicLink(root.resolve("sub/link"), target)
    PathNorm.deleteTree(root)
    assert(!Files.exists(root), "the tree itself was not deleted")
    assert(Files.readString(target.resolve("keep.txt")) == "keep",
      "deleting the tree deleted a file behind a linked directory")
  }
}
