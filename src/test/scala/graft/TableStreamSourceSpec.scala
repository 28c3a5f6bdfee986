package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.data.TokenGen
import graft.maintain.{Compaction, MergeInto}
import graft.meta._
import graft.streaming.StreamingIngest
import graft.table.TsTable

/** Streaming READ source over the transaction log: initial snapshot, then
  * append commits as micro-batches; rewrite commits skipped; recovery via
  * checkpointed version offsets. */
class TableStreamSourceSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  /** Run the stream to a file sink until no data is left; return sink rows. */
  private def drain(src: DataFrame, outDir: String, ckpt: String): DataFrame = {
    val q = src.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  test("initial snapshot, then incremental appends across restarts; no dup, no loss") {
    val root = tmpDir("srcstream-tbl")
    val out = tmpDir("srcstream-out")
    val ckpt = tmpDir("srcstream-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 200))
    t.append(TokenGen.generate(spark, 100, idStart = 1000))

    val got1 = drain(t.readStream(spark), out, ckpt)
    assert(got1.count() == 300)
    assert(got1.select("doc_id").distinct().count() == 300)

    // restart with new appends: only the delta lands
    t.append(TokenGen.generate(spark, 150, idStart = 2000))
    val got2 = drain(t.readStream(spark), out, ckpt)
    assert(got2.count() == 450)
    assert(got2.select("doc_id").distinct().count() == 450, "restart duplicated rows")

    // restart with nothing new: no-op
    val got3 = drain(t.readStream(spark), out, ckpt)
    assert(got3.count() == 450)

    // row content round-trips (tokens array included)
    import spark.implicits._
    val want = t.scan(spark).orderBy("doc_id").as[Tok].collect()
    val have = got3.orderBy("doc_id").as[Tok].collect()
    assert(want.length == have.length &&
      want.zip(have).forall { case (a, b) =>
        a.doc_id == b.doc_id && a.tokens.sameElements(b.tokens) && a.source == b.source
      })
  }

  test("rewrite commits (compaction, MERGE) are skipped; appends after them land") {
    val root = tmpDir("srcstream-rw")
    val out = tmpDir("srcstream-rw-out")
    val ckpt = tmpDir("srcstream-rw-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 8))

    assert(drain(t.readStream(spark), out, ckpt).count() == 200)

    // compaction rewrites every segment — the stream must NOT re-emit them
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(drain(t.readStream(spark), out, ckpt).count() == 200, "compaction re-emitted rows")

    // a MERGE (update-in-place) is a change commit — skipped likewise
    val upd = t.scan(spark).limit(5).withColumn("n_tok", lit(1))
    MergeInto.merge(spark, t, upd)
    assert(drain(t.readStream(spark), out, ckpt).count() == 200, "merge re-emitted rows")

    // but a genuine append after maintenance still streams
    t.append(TokenGen.generate(spark, 50, idStart = 5000))
    val got = drain(t.readStream(spark), out, ckpt)
    assert(got.count() == 250)
    assert(got.select("doc_id").distinct().count() == 250)
  }

  test("skipChangeCommits=false fails the query on a rewrite commit") {
    val root = tmpDir("srcstream-fail")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 4))
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    t.append(TokenGen.generate(spark, 10, idStart = 900))

    // tail across the compaction commit with skipping disabled
    val src = t.readStream(spark, Map("startingVersion" -> "1", "skipChangeCommits" -> "false"))
    val q = src.writeStream
      .format("parquet")
      .option("path", tmpDir("srcstream-fail-out"))
      .option("checkpointLocation", tmpDir("srcstream-fail-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[StreamingQueryException](q.awaitTermination())
    assert(e.getMessage.contains("re-emit or lose rows") ||
      Option(e.getCause).exists(_.getMessage.contains("re-emit or lose rows")))
  }

  test("offsets expired while the stream was down fail with a descriptive error") {
    val root = tmpDir("srcstream-exp")
    val out = tmpDir("srcstream-exp-out")
    val ckpt = tmpDir("srcstream-exp-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 50))
    assert(drain(t.readStream(spark), out, ckpt).count() == 50)

    // while the stream is down: two more appends, then snapshot expiration
    // drops the first of them from the log
    t.append(TokenGen.generate(spark, 20, idStart = 1000))
    t.append(TokenGen.generate(spark, 20, idStart = 2000))
    graft.maintain.Expire.expire(t, t.version)

    val q = t.readStream(spark).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[StreamingQueryException](q.awaitTermination())
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => t.getMessage +: msgs(t.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("expired by snapshot retention")),
      s"raw missing-file error instead of the descriptive one: ${msgs(e)}")
  }

  test("startingVersion tails from a pinned commit; maxVersionsPerTrigger bounds batches") {
    val root = tmpDir("srcstream-sv")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100))              // v2
    val vMid = t.version
    t.append(TokenGen.generate(spark, 40, idStart = 1000)) // v3
    t.append(TokenGen.generate(spark, 60, idStart = 2000)) // v4

    // tail from the commit AFTER vMid: only the last two appends
    val got = drain(
      t.readStream(spark, Map("startingVersion" -> (vMid + 1).toString)),
      tmpDir("srcstream-sv-out"), tmpDir("srcstream-sv-ckpt"))
    assert(got.count() == 100)
    assert(got.where(col("doc_id") < "doc-000000001000").count() == 0, "streamed rows from before startingVersion")

    // version-capped catch-up still delivers everything exactly once
    val out2 = tmpDir("srcstream-cap-out")
    val q = t.readStream(spark,
        Map("startingVersion" -> "1", "maxVersionsPerTrigger" -> "1"))
      .writeStream.format("parquet")
      .option("path", out2)
      .option("checkpointLocation", tmpDir("srcstream-cap-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val capped = spark.read.parquet(out2)
    assert(capped.count() == 200)
    assert(capped.select("doc_id").distinct().count() == 200)
  }

  test("startingTimestamp tails from a wall-clock instant; future instant = latest semantics") {
    val root = tmpDir("srcstream-ts")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100))
    val ts1 = t.store.readCommit(t.version).timestampMillis
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    val cut = System.currentTimeMillis() // strictly after append 1's stamp
    while (System.currentTimeMillis() <= cut) Thread.sleep(1)
    t.append(TokenGen.generate(spark, 40, idStart = 1000))
    t.append(TokenGen.generate(spark, 60, idStart = 2000))

    // tail from the cut: only the two later appends stream
    val got = drain(
      t.readStream(spark, Map("startingTimestamp" -> cut.toString)),
      tmpDir("srcstream-ts-out"), tmpDir("srcstream-ts-ckpt"))
    assert(got.count() == 100)
    assert(got.where(col("doc_id") < "doc-000000001000").count() == 0,
      "streamed rows committed before startingTimestamp")

    // an instant after every stamp behaves like `latest`: history skipped,
    // commits after query start drain on the next run (same checkpoint)
    val out2 = tmpDir("srcstream-ts2-out"); val ckpt2 = tmpDir("srcstream-ts2-ckpt")
    val future = (System.currentTimeMillis() + 60_000L).toString
    def drainFuture(): Long =
      try drain(t.readStream(spark, Map("startingTimestamp" -> future)), out2, ckpt2).count()
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("Unable to infer schema") => 0L } // no batch ever written
    assert(drainFuture() == 0)
    t.append(TokenGen.generate(spark, 25, idStart = 5000))
    assert(drainFuture() == 25,
      "anchored future instant must deliver commits after query start")

    // mutual exclusion is an init-time error
    val e = intercept[Exception] {
      drain(t.readStream(spark, Map("startingTimestamp" -> cut.toString,
        "startingVersion" -> "1")), tmpDir("srcstream-ts3-out"), tmpDir("srcstream-ts3-ckpt"))
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => t.getMessage +: msgs(t.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("mutually exclusive")))
  }

  test("batch reads through format(graft-table): load, SQL USING, versionAsOf, pruned scan") {
    val root = tmpDir("srcbatch-tbl")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 120))
    val v1 = t.version
    // next commit must land on a strictly later millisecond so the
    // timestampAsOf probe below pins v1 unambiguously
    while (System.currentTimeMillis() <= t.store.readCommit(v1).timestampMillis)
      Thread.sleep(1)
    t.append(TokenGen.generate(spark, 80, idStart = 1000))

    val df = spark.read.format("graft-table").load(root)
    assert(df.count() == 200)
    assert(df.schema == t.scan(spark).schema)

    // time travel via option — by version and by wall-clock instant
    assert(spark.read.format("graft-table").option("versionAsOf", v1).load(root).count() == 120)
    val ts1 = t.store.readCommit(v1).timestampMillis
    assert(spark.read.format("graft-table").option("timestampAsOf", ts1).load(root).count() == 120)
    assert(spark.read.format("graft-table")
      .option("timestampAsOf", java.time.Instant.now().toString).load(root).count() == 200)

    // SQL surface: USING graft-table
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_fmt USING `graft-table` OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM graft_fmt").collect()(0).getLong(0) == 200)

    // same pruned scan path as TsTable.scan: filters reach the parquet scan
    val q = df.where(col("n_tok") > 500).select("doc_id")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_tok), GreaterThan(n_tok,500)]"),
      s"format batch scan lost pushdown:\n$plan")

    // batch writer: append-mode save runs the transactional append
    TokenGen.generate(spark, 30, idStart = 9000)
      .write.format("graft-table").mode("append").save(root)
    t.refresh()
    assert(t.scan(spark).count() == 230)
    assert(spark.read.format("graft-table").load(root).count() == 230)
    // non-append modes are rejected (the log is append-only)
    intercept[Exception] {
      TokenGen.generate(spark, 1).write.format("graft-table").mode("overwrite").save(root)
    }
  }

  test("startingVersion=latest anchors once per query: restarts drain new commits, never re-resolve") {
    val root = tmpDir("srcstream-latest")
    val out = tmpDir("srcstream-latest-out")
    val ckpt = tmpDir("srcstream-latest-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100))

    def drainLatest(): Long =
      try drain(t.readStream(spark, Map("startingVersion" -> "latest")), out, ckpt).count()
      catch { // zero batches -> the file sink has written nothing yet
        case _: org.apache.spark.sql.AnalysisException => 0L
      }

    assert(drainLatest() == 0, "latest must skip history at first start")
    // commits that arrive AFTER the anchored start must drain on restart —
    // the anchor is persisted in the checkpoint's sources metadata, so a
    // no-progress restart must NOT re-resolve 'latest' past them
    t.append(TokenGen.generate(spark, 40, idStart = 1000))
    assert(drainLatest() == 40, "no-progress restart re-resolved 'latest' and withheld commits")
    // and once batches have committed, further restarts anchor on the
    // checkpointed offset, not on a re-resolved floor
    t.append(TokenGen.generate(spark, 25, idStart = 2000))
    assert(drainLatest() == 65, "restart after progress withheld new commits")
    assert(drain(t.readStream(spark, Map("startingVersion" -> "latest")), out, ckpt)
      .select("doc_id").distinct().count() == 65)
  }

  test("streaming sink via writeStream.format(graft-table): transactional appends, replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("sinkfmt-tbl")
    val ckpt = tmpDir("sinkfmt-ckpt")
    val t = TsTable.create(root, tokenMeta)

    val rows = TokenGen.generate(spark, 120).as[Tok].collect().toSeq
    val mem = MemoryStream[Tok]
    mem.addData(rows.take(70))
    mem.addData(rows.drop(70))
    def runOnce(): Unit = {
      val q = mem.toDF().writeStream.format("graft-table")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(root)
      q.awaitTermination()
    }
    runOnce()
    t.refresh()
    assert(t.scan(spark).count() == 120)

    // restart with no new data: txn watermark makes replays no-ops
    runOnce()
    t.refresh()
    assert(t.scan(spark).count() == 120)
    // and new data lands incrementally
    mem.addData(TokenGen.generate(spark, 30, idStart = 5000).as[Tok].collect().toSeq)
    runOnce()
    t.refresh()
    assert(t.scan(spark).count() == 150)
    assert(t.scan(spark).select("doc_id").distinct().count() == 150)

    // complete/update modes are rejected up front
    intercept[Exception] {
      mem.toDF().groupBy("source").count().writeStream.format("graft-table")
        .outputMode("complete")
        .option("checkpointLocation", tmpDir("sinkfmt-ckpt2")).start(tmpDir("sinkfmt-t2"))
    }
  }

  test("table-to-table replication: stream source into StreamingIngest sink, exactly-once") {
    val srcRoot = tmpDir("srcstream-repl-src")
    val dstRoot = tmpDir("srcstream-repl-dst")
    val ckpt = tmpDir("srcstream-repl-ckpt")
    val src = TsTable.create(srcRoot, tokenMeta)
    val dst = TsTable.create(dstRoot, tokenMeta)
    src.append(TokenGen.generate(spark, 200))

    StreamingIngest.ingestAvailable(src.readStream(spark), dst, ckpt)
    dst.refresh()
    assert(dst.scan(spark).count() == 200)

    // incremental: new source appends replicate; replay stays exactly-once
    src.append(TokenGen.generate(spark, 100, idStart = 3000))
    StreamingIngest.ingestAvailable(src.readStream(spark), dst, ckpt)
    dst.refresh()
    assert(dst.scan(spark).count() == 300)
    assert(dst.scan(spark).select("doc_id").distinct().count() == 300)

    // destination is a full-fidelity table: maintenance applies to it
    Compaction.run(spark, dst, targetFileSize = 64L * 1024 * 1024)
    assert(dst.scan(spark).count() == 300)
  }
  test("stream across ADD COLUMN: pre-evolution files null-fill, schema pinned at start") {
    val root = tmpDir("srcstream-evo")
    val out = tmpDir("srcstream-evo-out"); val ckpt = tmpDir("srcstream-evo-ckpt")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100)) // pre-evolution files: no 'lang'
    t.addColumn("lang", org.apache.spark.sql.types.StringType)
    t.refresh()
    t.append(TokenGen.generate(spark, 50, idStart = 5000).withColumn("lang", lit("en")))

    // a stream opened AFTER evolution sees the evolved schema and must
    // null-fill the column for files written before it existed
    val got = drain(t.readStream(spark), out, ckpt)
    assert(got.schema.fieldNames.contains("lang"))
    assert(got.count() == 150)
    assert(got.where(col("lang").isNull).count() == 100)
    assert(got.where(col("lang") === "en").count() == 50)
  }

  test("a boolean option that does not parse names the option and the value") {
    val t = TsTable.create(tmpDir("srcstream-badbool"), tokenMeta)
    t.append(TokenGen.generate(spark, 10))
    val e = intercept[IllegalArgumentException](t.readStream(spark, Map("readChangeFeed" -> "yes")))
    assert(e.getMessage.contains("readChangeFeed") && e.getMessage.contains("'yes'"), e.getMessage)
  }

  test("a long option that does not parse names the option and the value") {
    val t = TsTable.create(tmpDir("srcstream-badlong"), tokenMeta)
    t.append(TokenGen.generate(spark, 10))
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-table").option("versionAsOf", "v1").load(t.root))
    assert(e.getMessage.contains("versionAsOf") && e.getMessage.contains("'v1'"), e.getMessage)
  }

  test("a timestamp option that does not parse names the option and the value") {
    val t = TsTable.create(tmpDir("srcstream-badts"), tokenMeta)
    t.append(TokenGen.generate(spark, 10))
    val asOf = intercept[IllegalArgumentException](
      spark.read.format("graft-table").option("timestampAsOf", "yesterday").load(t.root))
    assert(asOf.getMessage.contains("timestampAsOf") && asOf.getMessage.contains("'yesterday'"),
      asOf.getMessage)
    // the source resolves its start when the query starts it
    val starting = intercept[IllegalArgumentException](new graft.streaming.TableStreamSource(
      spark.sqlContext, t.root, Map("startingTimestamp" -> "2026-13-01")))
    assert(starting.getMessage.contains("startingTimestamp") &&
      starting.getMessage.contains("'2026-13-01'"), starting.getMessage)
  }

  test("the batch source rejects an option key it does not read, naming the key") {
    val t = TsTable.create(tmpDir("optkeys-batch"), tokenMeta)
    t.append(TokenGen.generate(spark, 10))
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-table").option("versionAsof", 1L).option("versionAt", 1L).load(t.root))
    // keys match case-insensitively: only the unread one is named
    val named = e.getMessage.toLowerCase.takeWhile(_ != ';')
    assert(named.contains("versionat") && !named.contains("versionasof"), e.getMessage)
  }

  test("the stream source rejects an option key it does not read, naming the key") {
    val t = TsTable.create(tmpDir("optkeys-stream"), tokenMeta)
    t.append(TokenGen.generate(spark, 10))
    val e = intercept[IllegalArgumentException](
      t.readStream(spark, Map("startingVersion" -> "1", "startVersion" -> "1")))
    assert(e.getMessage.toLowerCase.contains("startversion"), e.getMessage)
  }

  test("the sink rejects an option key it does not read, naming the key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("optkeys-sink")
    TsTable.create(root, tokenMeta)
    val mem = MemoryStream[Int]
    val e = intercept[IllegalArgumentException](
      mem.toDF().writeStream.format("graft-table")
        .option("checkpointLocation", tmpDir("optkeys-sink-ckpt"))
        .option("mergeSchema", "true")
        .trigger(Trigger.AvailableNow()).start(root))
    assert(e.getMessage.toLowerCase.contains("mergeschema"), e.getMessage)
  }
}
