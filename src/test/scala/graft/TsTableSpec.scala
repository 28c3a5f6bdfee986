package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.log.ConflictException
import graft.meta._
import graft.table._

/** End-to-end table tests: create → append → scan with the token table and
  * the reference-shaped prices table (FIXTURES.md F1/F2), mirroring the
  * reference's append-pipeline and coverage-pipeline integration tests. */
class TsTableSpec extends SparkFunSuite {

  test("history: one labeled row per commit, newest first") {
    import graft.maintain.{Compaction, DeleteWhere}
    val root = tmpDir("hist-tbl")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(graft.data.TokenGen.generate(spark, 100, numFiles = 4))
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    DeleteWhere.delete(spark, t, org.apache.spark.sql.functions.col("doc_id") < "doc-000000000010")
    val h = t.history(spark).collect()
    assert(h.length == t.version.toInt)
    assert(h.head.getLong(0) == t.version && h.last.getLong(0) == 1L, "not newest-first")
    val ops = h.map(_.getString(2)).toSeq
    assert(ops.last == "CREATE")
    assert(ops.contains("APPEND") && ops.contains("REWRITE"), s"ops: $ops")
    // limit keeps only the newest commits
    assert(t.history(spark, limit = 2).collect().map(_.getLong(0)).toSeq ==
      Seq(t.version, t.version - 1))
  }

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def pricesMeta(bucket: String = "1m", entities: Seq[String] = Seq("symbol")) =
    TableMeta("prices",
      TableKind.TimeSeries(TimeIndexSpec("ts", entities, TimeBucket.parse(bucket), None)),
      None, None)

  private def pricesDf(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("epoch_s", "symbol", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("symbol"), col("price"))
  }

  test("token table: create, append, scan returns identical rows") {
    val root = tmpDir("tok-tbl")
    val t = TsTable.create(root, tokenMeta)
    val df = TokenGen.generate(spark, 1000, numFiles = 8)
    val v = t.append(df)
    assert(v == 2L)
    assert(t.state.liveSegments.size == 8)
    val got = t.scan(spark).orderBy("doc_id").collect()
    val want = TokenGen.generate(spark, 1000).orderBy("doc_id").collect()
    assert(got.length == 1000)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getSeq[Int](1) == w.getSeq[Int](1), s"token mismatch for ${g.getString(0)}")
      assert(g.getInt(2) == w.getInt(2))
      assert(g.getString(3) == w.getString(3))
    }
    // per-file stats recorded for the clustering columns
    val seg = t.state.liveSegments.head
    assert(seg.stats.contains("doc_id") && seg.stats.contains("n_tok") && seg.stats.contains("source"))
    assert(seg.stats("n_tok").min.get.isInstanceOf[StatVal.L])
  }

  test("all-null columns: append succeeds, stats carry null counts and no spurious min/max") {
    val root = tmpDir("tok-nulls")
    val t = TsTable.create(root, tokenMeta)
    // a string and a numeric column that are entirely null: footer stats
    // must record their null counts without decoding min/max (round-1 bug:
    // NPE on binary, uninitialized 0 merged into numeric min/max)
    val df = TokenGen.generate(spark, 100, numFiles = 2)
      .withColumn("note", lit(null).cast("string"))
      .withColumn("score", lit(null).cast("double"))
    t.append(df)
    assert(t.scan(spark).count() == 100)
    t.state.liveSegments.foreach { seg =>
      Seq("note", "score").foreach { c =>
        seg.stats.get(c).foreach { cs =>
          assert(cs.min.isEmpty && cs.max.isEmpty, s"spurious min/max for all-null $c: $cs")
          assert(cs.nullCount > 0, s"null count missing for $c")
        }
      }
      // sibling columns keep real stats
      assert(seg.stats.get("n_tok").exists(_.min.nonEmpty))
    }
    // mixed case: a second append where the same columns have values —
    // that file's stats are real while the first file's stay null-only
    val df2 = TokenGen.generate(spark, 50, idStart = 5000, numFiles = 1)
      .withColumn("note", lit("x")).withColumn("score", lit(1.5))
    t.append(df2)
    val withVals = t.state.liveSegments.filter(_.stats.get("note").exists(_.min.nonEmpty))
    assert(withVals.nonEmpty)
    assert(t.scan(spark).where(col("note").isNull).count() == 100)
  }

  test("token table: stats pruning prunes files, results unchanged") {
    val root = tmpDir("tok-prune")
    val t = TsTable.create(root, tokenMeta)
    // two appends with disjoint doc_id ranges -> disjoint stats
    t.append(TokenGen.generate(spark, 500, idStart = 0, numFiles = 2))
    t.append(TokenGen.generate(spark, 500, idStart = 1000000, numFiles = 2))
    // physical "number of files read" metric of the parquet scan node
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val df = t.scan(spark).where(col("doc_id") < "doc-000001000000")
    assert(df.count() == 500)
    assert(filesRead(df) == 2, "expected 2 files after pruning") // only the low range
    // impossible predicate prunes everything
    assert(filesRead(t.scan(spark).where(col("n_tok") > 100000)) == 0)
    // != never prunes (reference: no prune on !=)
    assert(filesRead(t.scan(spark).where(col("n_tok") =!= 70)) == 4)
  }

  test("prices table: append computes coverage; ratio/gap/window queries answer from metadata") {
    val root = tmpDir("prices")
    val t = TsTable.create(root, pricesMeta())
    // rows at 1s/61s/180s => buckets {0,1,3} at 1m (reference sparse fixture)
    t.append(pricesDf(Seq((1L, "A", 10.0), (61L, "A", 11.0), (180L, "A", 12.0))))
    assert(t.coverageRatioForRange(0L, 240L * 1000000L) == 0.75)
    assert(t.maxGapLenForRange(0L, 240L * 1000000L) == 1L)
    assert(t.lastFullyCoveredWindow(240L * 1000000L, 1L).contains((3, 3)))
    assert(t.lastFullyCoveredWindow(240L * 1000000L, 2L).contains((0, 1)))
    intercept[InvalidRangeException](t.coverageRatioForRange(10L, 10L))
  }

  test("prices table: overlapping append is rejected with overlap details") {
    val root = tmpDir("prices-ovl")
    val t = TsTable.create(root, pricesMeta())
    t.append(pricesDf(Seq((1L, "A", 10.0), (61L, "A", 11.0))))
    val e = intercept[CoverageOverlapException] {
      t.append(pricesDf(Seq((30L, "A", 99.0)))) // bucket 0 already covered
    }
    assert(e.overlapCount == 1L && e.exampleBucket == 0)
    // non-overlapping append succeeds afterwards
    t.append(pricesDf(Seq((130L, "A", 13.0))))
    assert(t.loadTableCoverage().cardinality == 3L)
  }

  test("rejected append leaves no orphaned files (data/ and coverage sidecars)") {
    import java.nio.file.{Files, Paths}
    def count(dir: String): Long = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0L
      else { val s = Files.walk(p); try s.filter(Files.isRegularFile(_)).count() finally s.close() }
    }
    // coverage-overlap rejection (time-series table)
    val root = tmpDir("prices-orphan")
    val t = TsTable.create(root, pricesMeta())
    t.append(pricesDf(Seq((1L, "A", 10.0), (61L, "A", 11.0))))
    val (d0, c0) = (count(s"$root/data"), count(s"$root/_coverage"))
    intercept[CoverageOverlapException](t.append(pricesDf(Seq((30L, "A", 99.0)))))
    assert(count(s"$root/data") == d0,
      "rejected overlapping append leaked data files")
    assert(count(s"$root/_coverage") == c0,
      "rejected overlapping append leaked coverage sidecars")
    // schema-mismatch rejection leaks neither
    intercept[SchemaMismatchException](
      t.append(pricesDf(Seq((130L, "A", 1.0))).withColumn("extra", lit(1))))
    assert(count(s"$root/data") == d0 && count(s"$root/_coverage") == c0,
      "rejected schema-mismatch append leaked files")
    // table still healthy: a valid append lands
    t.append(pricesDf(Seq((130L, "A", 13.0))))
    assert(t.scan(spark).count() == 3)
  }

  test("null timestamps claim no coverage (no bucket-0 collision across appends)") {
    import spark.implicits._
    // round-3 review finding: greatest() skips nulls, so a null ts used to
    // clamp to bucket 0 — two disjoint appends each holding a null row
    // would falsely collide on epoch coverage
    val root = tmpDir("null-ts-cov")
    val t = TsTable.create(root, pricesMeta())
    def dfWithNull(epochS: Long, sym: String) =
      Seq((Option(epochS), sym, 1.0), (Option.empty[Long], sym, 2.0))
        .toDF("epoch_s", "symbol", "price")
        .select(col("epoch_s").cast("timestamp").as("ts"), col("symbol"), col("price"))
    t.append(dfWithNull(61L, "A").coalesce(1))  // bucket 1 (+ a null row)
    t.append(dfWithNull(30L, "A").coalesce(1))  // bucket 0 (+ a null row) — must NOT collide
    assert(t.loadTableCoverage().cardinality == 2L,
      s"null rows perturbed coverage: ${t.loadTableCoverage().runList}")
    assert(t.scan(spark).count() == 4)
  }

  test("expire reclaims aged crashed-writer staging dirs, spares fresh ones") {
    import java.nio.file.{Files, Paths}
    import graft.data.TokenGen
    val root = tmpDir("staging-gc")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 20).coalesce(1))
    // simulate a crashed writer: staged output that never moved into data/
    val stale = Paths.get(root, ".staging-deadbeef")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-0.parquet"), "bytes")
    // age is judged by the NEWEST mtime in the tree (a live writer keeps
    // touching files) — age both the dir and its content
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200_000L)
    Files.setLastModifiedTime(stale.resolve("part-0.parquet"), old)
    Files.setLastModifiedTime(stale, old)
    val fresh = Paths.get(root, ".staging-cafebabe")
    Files.createDirectories(fresh)
    Files.writeString(fresh.resolve("part-0.parquet"), "bytes")

    val rep = graft.maintain.Expire.expire(t, t.version)
    assert(rep.stagingDirsDeleted == 1, s"expected 1 staging dir reclaimed: $rep")
    assert(!Files.exists(stale), "aged staging dir not reclaimed")
    assert(Files.exists(fresh), "fresh staging dir (live writer) must be spared")
    assert(TsTable.open(root).scan(spark).count() == 20)
  }

  test("aborted swap (lost concurrent-rewrite race) leaves no orphaned files") {
    import java.nio.file.{Files, Paths}
    import graft.data.TokenGen
    def count(dir: String): Long = {
      val s = Files.list(Paths.get(dir)); try s.count() finally s.close()
    }
    val root = tmpDir("swap-orphan")
    TsTable.create(root, tokenMeta)
    val t1 = TsTable.open(root)
    t1.append(TokenGen.generate(spark, 100).coalesce(1))
    val seg = t1.state.liveSegments.head
    val t2 = TsTable.open(root) // second writer, same snapshot
    // writer 1 rewrites the segment first
    t1.transact() { tx => tx.remove(Seq(seg)); tx.stage(t1.scan(spark)) }
    val filesAfterT1 = count(s"$root/data")
    // writer 2 still believes seg is live; its swap must abort AND clean up
    val e = intercept[IllegalStateException](t2.transact() { tx =>
      tx.remove(Seq(seg)); tx.stage(spark.read.parquet(s"$root/${seg.path}"))
    })
    assert(e.getMessage.contains("swap aborted"), e.getMessage)
    assert(count(s"$root/data") == filesAfterT1,
      "aborted swap leaked its rewritten files into data/")
    // table unharmed
    assert(TsTable.open(root).scan(spark).count() == 100)
  }

  test("append adopts the footer schema only when every staged file agrees") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("x", LongType)))
    val b = StructType(Seq(StructField("y", StringType)))
    assert(TsTable.footerSchema(Seq(Some(a), Some(a))) == Some(a))
    // disagreeing or missing footer schemas fall back to inference
    assert(TsTable.footerSchema(Seq(Some(a), Some(b))).isEmpty)
    assert(TsTable.footerSchema(Seq(Some(a), None)).isEmpty)
    assert(TsTable.footerSchema(Seq(None, None)).isEmpty)
  }

  test("foreign parquet with INT96 timestamps is rejected by name, file never copied") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("int96-reject")
    val t = TsTable.create(root, pricesMeta())
    // write a legacy INT96 file the way old writers did
    val legacyDir = tmpDir("int96-src")
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "INT96")
      pricesDf(Seq((1L, "A", 10.0))).coalesce(1).write.mode("overwrite").parquet(legacyDir)
    } finally spark.conf.set(key, prev)
    val file = Files.list(Paths.get(legacyDir)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get().toString
    val e = intercept[SchemaMismatchException](t.appendParquetFile(spark, file))
    assert(e.getMessage.contains("INT96"), e.getMessage)
    val dataDir = Paths.get(root, "data")
    assert(!Files.exists(dataDir) || { val s = Files.list(dataDir); try s.count() == 0 finally s.close() },
      "rejected INT96 file was copied into data/")
  }

  test("foreign multi-row-group parquet ingests at cluster parallelism (>1 segment)") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("foreign-par")
    val t = TsTable.create(root, tokenMeta)
    // a foreign file with many small row groups (64 KiB blocks)
    val srcDir = tmpDir("foreign-src")
    TokenGen.generate(spark, 2000).coalesce(1)
      .write.option("parquet.block.size", "65536").mode("overwrite").parquet(srcDir)
    val file = Files.list(Paths.get(srcDir)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get().toString
    assert(Files.size(Paths.get(file)) > 256 * 1024, "fixture too small to split")
    // shrink the split size so the re-staging read fans out like a big
    // file on a real cluster would
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    // listener evidence that the staging WRITE ran multi-task (not merely
    // that several part files appeared): record per-stage task counts for
    // every stage that runs during the ingest
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.put(sc.stageInfo.stageId, sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set(key, (128 * 1024).toString)
      t.appendParquetFile(spark, file)
    } finally {
      spark.conf.set(key, prev)
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val maxTasks = stageTasks.values.asScala.foldLeft(0)(math.max)
    assert(maxTasks > 1,
      s"staging job never ran a multi-task stage (max $maxTasks): the foreign file " +
        "was funneled through one core")
    assert(t.state.liveSegments.size > 1,
      s"foreign ingest funneled into ${t.state.liveSegments.size} segment(s); " +
        "expected the multi-row-group file to re-stage in parallel")
    assert(t.scan(spark).count() == 2000)
    // transport copy removed after the append (no orphan in data/)
    val dataFiles = {
      val s = Files.list(Paths.get(root, "data"))
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSet }
      finally s.close()
    }
    assert(dataFiles == t.state.liveSegments.map(_.path.stripPrefix("data/")).toSet,
      "data/ holds files no commit references")
  }

  test("prices table: schema is adopted then frozen (exact enforcement)") {
    import spark.implicits._
    val root = tmpDir("prices-schema")
    val t = TsTable.create(root, pricesMeta())
    t.append(pricesDf(Seq((1L, "A", 10.0))))
    assert(t.meta.schema.get.fieldNames.toSeq == Seq("ts", "symbol", "price"))
    // extra column -> reject
    val bad = pricesDf(Seq((70L, "A", 1.0))).withColumn("extra", lit(1))
    intercept[SchemaMismatchException](t.append(bad))
    // type change -> reject
    val bad2 = Seq((130L, "A", "not-a-double")).toDF("epoch_s", "symbol", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("symbol"), col("price"))
    intercept[SchemaMismatchException](t.append(bad2))
  }

  test("prices table: entity identity pinned on first append, enforced after") {
    val root = tmpDir("prices-entity")
    val t = TsTable.create(root, pricesMeta())
    t.append(pricesDf(Seq((1L, "NVDA", 10.0))))
    assert(t.meta.entityIdentity.contains(Map("symbol" -> "NVDA")))
    intercept[EntityIdentityException] {
      t.append(pricesDf(Seq((70L, "AMD", 9.0))))
    }
    // two symbols in one append: not a single identity
    intercept[EntityIdentityException] {
      t.append(pricesDf(Seq((130L, "NVDA", 1.0), (190L, "AMD", 2.0))))
    }
  }

  test("scanRange: half-open range, null timestamps dropped") {
    import spark.implicits._
    val root = tmpDir("prices-range")
    val t = TsTable.create(root, pricesMeta(entities = Nil))
    val withNull = Seq((Some(1L), "A", 10.0), (Some(61L), "A", 11.0), (None, "A", 99.0))
      .toDF("epoch_s", "symbol", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("symbol"), col("price"))
    t.append(withNull)
    val got = t.scanRange(spark, 0L, 61L * 1000000L).collect()
    assert(got.length == 1 && got(0).getDouble(2) == 10.0) // 61s excluded (half-open), null dropped
    intercept[InvalidRangeException](t.scanRange(spark, 5L, 5L))
  }

  test("snapshot isolation: pinned scan unaffected by later commits; time travel works") {
    val root = tmpDir("tok-snap")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    val v2 = t.version
    val pinned = t.scanAt(spark, v2)
    t.append(TokenGen.generate(spark, 100, idStart = 5000, numFiles = 1))
    assert(pinned.count() == 100)                        // already-built plan
    assert(t.scanAt(spark, v2).count() == 100)           // re-built at pinned version
    assert(t.scan(spark).count() == 200)                 // fresh snapshot sees both
  }

  test("create on non-empty root conflicts; open of missing table errors") {
    val root = tmpDir("tok-create")
    TsTable.create(root, tokenMeta)
    intercept[ConflictException](TsTable.create(root, tokenMeta))
    intercept[graft.log.CorruptLogException](TsTable.open(tmpDir("missing")))
    val opened = TsTable.open(root)
    assert(opened.meta.name == "tokens")
  }

  test("concurrent appends: OCC rebase-retry makes both land") {
    val root = tmpDir("tok-occ")
    val t1 = TsTable.create(root, tokenMeta)
    val t2 = TsTable.open(root)
    t1.append(TokenGen.generate(spark, 50, idStart = 0, numFiles = 1))
    // t2 holds a stale snapshot (v1); append must rebase and commit at v3
    t2.append(TokenGen.generate(spark, 50, idStart = 1000, numFiles = 1))
    t1.refresh()
    assert(t1.state.liveSegments.size == 2)
    assert(t1.scan(spark).count() == 100)
  }

  test("row ids on rebase: a Txn committing over another handle's append takes the next range") {
    val root = tmpDir("tok-rt-rebase")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 1))
    t.enableRowTracking()
    val done = t.transact() { tx =>
      val staged = tx.stage(TokenGen.generate(spark, 50, idStart = 9000L, numFiles = 1))
      TsTable.open(root).append(TokenGen.generate(spark, 30, idStart = 5000L, numFiles = 1))
      staged
    }
    val live = t.state.liveSegments
    val mine = live.filter(s => done.value.exists(_.segmentId == s.segmentId))
    val other = live.filter(s => s.baseRowId.exists(_ >= 100L)).diff(mine)
    def range(segs: Seq[SegmentMeta]) =
      (segs.flatMap(_.baseRowId).min, segs.map(s => s.baseRowId.get + s.rowCount).max)
    assert(mine.map(_.rowCount).sum == 50 && other.map(_.rowCount).sum == 30)
    // the other append committed first from the high water 100; the Txn's
    // allocation re-ran on the snapshot it committed over
    assert(range(other) == (100L, 130L) && range(mine) == (130L, 180L))
    assert(mine.forall(_.rowVersion.contains(done.version)))
    assert(t.meta.rowIdHighWater == 180L)
    assert(t.scanWithRowIds(spark).select("_row_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 180L))
  }
}
