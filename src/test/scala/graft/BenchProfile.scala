package graft

import java.nio.file.Files

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.TokenGen
import graft.maintain.{Compaction, Expire, MergeInto}
import graft.meta._
import graft.table.TsTable

/** Round-6 measurement harness (guide §1): mirrors graft.Bench's sections
  * at the same params, ONE pass, with a SparkListener recording per-job and
  * per-stage wall/task/IO metrics so the optimization targets are stages,
  * not guesses. Bench.scala itself is frozen for measurement; this is the
  * separate profiling main the round contract allows.
  *
  * Usage: sbt "Test/runMain graft.BenchProfile [sections...]"
  * env: PROF_ROWS (150000), PROF_CPUS (32), PROF_FILES (200),
  *      SPARK_GRAFT_SF_DIR (/root/testdata/sf0.1)
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("PROF_ROWS", "150000").toLong
    val cpus = sys.env.getOrElse("PROF_CPUS", "32").toInt
    val nFiles = sys.env.getOrElse("PROF_FILES", "200").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    // ---- listener ---------------------------------------------------------
    case class J(id: Int, desc: String, start: Long, var end: Long = 0L,
                 stages: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]())
    case class St(name: String, var ms: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L,
                  var inB: Long = 0L, var outB: Long = 0L, var sRead: Long = 0L, var sWrite: Long = 0L,
                  var spillD: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId,
          Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""),
          e.time)
        e.stageIds.foreach(sid => j.stages.add(sid))
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val st = stages.computeIfAbsent(si.stageId, _ => St(si.name))
        st.ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(0L)
        st.tasks = si.numTasks
        val m = si.taskMetrics
        st.taskMs = m.executorRunTime
        st.inB = m.inputMetrics.bytesRead
        st.outB = m.outputMetrics.bytesWritten
        st.sRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        st.sWrite = m.shuffleWriteMetrics.bytesWritten
        st.spillD = m.diskBytesSpilled
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // PROF_WARM=1: run the whole sequence twice on fresh roots and report
    // only the second pass (the bench's min-of-3 sees warm-JIT numbers;
    // cold one-shot profiles mis-rank stages 3-10x — measured this round)
    val passes = if (sys.env.getOrElse("PROF_WARM", "0") == "1") 2 else 1
    var quiet = passes > 1

    import scala.jdk.CollectionConverters._
    def section[A](name: String)(f: => A): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      if (quiet) { f; return }
      jobs.clear(); stages.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.currentTimeMillis()
      f
      val t1 = System.currentTimeMillis()
      spark.sparkContext.setJobDescription(null)
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      var cursor = t0
      var jobMs = 0L
      println(f"\n== $name%-22s wall ${(t1 - t0) / 1000.0}%6.2f s  jobs=${js.size}")
      js.foreach { j =>
        val gap = j.start - cursor
        val dur = j.end - j.start
        jobMs += dur
        if (gap > 80 || dur > 80)
          println(f"  gap ${gap / 1000.0}%5.2f | job ${j.id}%3d ${dur / 1000.0}%6.2f s")
        j.stages.asScala.toSeq.sorted.foreach { sid =>
          val st = stages.get(sid)
          if (st != null && st.ms > 80)
            println(f"      st $sid%3d ${st.ms / 1000.0}%6.2f s taskSum ${st.taskMs / 1000.0}%7.2f t=${st.tasks}%4d " +
              f"in=${st.inB / 1e6}%7.1fM out=${st.outB / 1e6}%7.1fM sR=${st.sRead / 1e6}%7.1fM sW=${st.sWrite / 1e6}%7.1fM" +
              (if (st.spillD > 0) f" SPILL=${st.spillD / 1e6}%7.1fM" else "") + s"  ${st.name.take(60)}")
        }
        cursor = math.max(cursor, j.end)
      }
      println(f"   sum(jobs) ${jobMs / 1000.0}%6.2f s; driver/gaps ${(t1 - t0 - jobMs) / 1000.0}%6.2f s")
    }

    // ---- staged inputs (identical to Bench) -------------------------------
    val stage = Files.createTempDirectory("graft-prof-in").toString
    TokenGen.generate(spark, rows, numFiles = nFiles).write.mode("overwrite").parquet(stage)
    val updates = TokenGen.generate(spark, rows / 100, idStart = 0, numFiles = 4)
    val inserts = TokenGen.generate(spark, rows / 1000, idStart = rows * 10, numFiles = 1)
    val updStage = Files.createTempDirectory("graft-prof-upd").toString
    updates.unionByName(inserts).write.mode("overwrite").parquet(updStage)
    val updMorStage = Files.createTempDirectory("graft-prof-updmor").toString
    TokenGen.generate(spark, rows / 100, idStart = rows / 5, numFiles = 4)
      .write.mode("overwrite").parquet(updMorStage)

    def du(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!Files.isDirectory(p)) return 0L
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    println(f"staged input bytes: ${du(stage) / 1e6}%.1f MB in $nFiles files")

    for (pass <- 1 to passes) {
    quiet = pass < passes
    val root = Files.createTempDirectory("graft-prof-tbl").toString
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))

    val input = spark.read.parquet(stage).repartition(nFiles)
    section("ingest") { t.append(input) }
    if (!quiet) println(f"table bytes after ingest: ${du(root) / 1e6}%.1f MB")

    def latency(df: DataFrame): Unit = df.count()
    def materialize(df: DataFrame): Unit = df.head()
    def tokSumScan() = t.scan(spark).select(sum(expr("tok_sum(tokens)")))
    val probeDoc = f"doc-${rows / 3}%012d"
    section("scan_point_before") { latency(t.scan(spark).where(col("doc_id") === probeDoc)) }
    section("full_scan_before") { materialize(tokSumScan()) }
    section("compact_zorder") { Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024) }
    if (!quiet) println(f"table bytes after compact: ${du(root) / 1e6}%.1f MB")
    section("scan_point_after") { latency(t.scan(spark).where(col("doc_id") === probeDoc)) }
    section("full_scan_after") { materialize(tokSumScan()) }
    section("merge_upsert") { MergeInto.merge(spark, t, spark.read.parquet(updStage)) }
    section("merge_upsert_mor") { MergeInto.mergeMor(spark, t, spark.read.parquet(updMorStage)) }
    val delLo = f"doc-${rows / 2}%012d"
    val delHi = f"doc-${rows / 2 + rows / 100}%012d"
    section("delete_1pct") {
      graft.maintain.DeleteWhere.delete(spark, t, col("doc_id") >= delLo && col("doc_id") < delHi)
    }
    val dvLo = f"doc-${rows / 4}%012d"
    val dvHi = f"doc-${rows / 4 + rows / 100}%012d"
    section("delete_1pct_dv") {
      graft.maintain.DeleteWhere.deleteMor(spark, t, col("doc_id") >= dvLo && col("doc_id") < dvHi)
    }
    section("full_scan_after_dv") { materialize(tokSumScan()) }
    section("expire") { Expire.expire(t, t.version) }

    // headline queries (count(), like Bench)
    Seq("q01_agg", "q03_join", "q05_date_trunc", "q10_maintain_scan",
      "q21_minhash_pairs", "q22_simhash_pairs", "q24_embed_neardup", "q25_ann_topk",
      "q30_token_count", "q35_sample_split", "q36_seq_pack", "q37_vocab_topk",
      "q38_pipeline_e2e").foreach { name =>
      section(name) { SparkEntry.queries(name)(spark, sfDir).count() }
    }
    try graft.meta.PathNorm.deleteTree(java.nio.file.Paths.get(root)) catch { case _: Exception => () }
    } // passes

    spark.stop()
    Seq(stage, updStage, updMorStage).foreach { d =>
      try graft.meta.PathNorm.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () }
    }
  }
}
