package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, Expire, MergeInto}
import graft.meta._
import graft.table.TsTable

/** Benchmark main (driver contract): one JSON line on stdout.
  *
  * Measures the north-rule metric — end-to-end compaction + Z-order
  * maintenance throughput (sequences/sec) and post-maintenance scan
  * latency — plus headline relational/pipeline queries on
  * SPARK_GRAFT_SF_DIR. Parallelism comes from SPARK_GRAFT_CPUS; running
  * the identical job at 8 vs 32 cores on the same input yields the
  * scaling-efficiency evidence recorded in BENCH/BASELINE.md.
  *
  * NOISE IMMUNITY: every timed section runs SPARK_GRAFT_BENCH_TRIALS
  * (default 3) full trials, and the trials are INTERLEAVED — each pass
  * runs the whole maintenance sequence AND the headline queries before
  * the next pass begins, so consecutive samples of the same section are
  * separated by the full suite (~10 s+), and a single degraded-host
  * window (CPU steal burst on this shared VM) cannot cover all samples
  * of any section: round 3's driver snapshot recorded 15.4 k seq/s in a
  * burst while the same binary did 32.2 k in adjacent windows, and round
  * 4's 2-trial artifact still landed ~25 % under three adjacent runs.
  *
  * The headline per-section figure remains the MINIMUM across trials
  * (ScalingBench's long-standing policy — the minimum is the best
  * estimate of the engine's cost on a machine with additive noise), but
  * the JSON now ALSO carries `queries_median` (per-section medians) and
  * `trials` so rounds can be compared like-for-like: min-vs-min or
  * median-vs-median, never a 3-trial min against a 1-trial sample.
  *
  * Env knobs: SPARK_GRAFT_BENCH_ROWS (token-table size, default 150k),
  * SPARK_GRAFT_BENCH_FILES (initial small files, default 200),
  * SPARK_GRAFT_BENCH_TRIALS (default 3).
  */
object Bench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "150000").toLong
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "200").toInt
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt
    require(trials >= 1, s"SPARK_GRAFT_BENCH_TRIALS must be >= 1, got $trials")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark) // tok_sum in the scan sections

    // Host-health probes INSIDE the official artifact: a shared-VM window
    // can shave 25 %+ off the headline (observed across rounds); the
    // memcpy bandwidth and the all-cores arithmetic rate at the bench's
    // own thread count disambiguate "engine regressed" from "host was
    // degraded" without needing an adjacent run. Idle-host reference on
    // this box: membw ~140-150 GB/s and cpu ~2.6-3.0 Gops/s at 32
    // threads; materially lower readings mark a contended window.
    val membwGbps = ScalingBench.memProbe(cpus.toInt, cpus.toInt)._1
    val cpuGops = {
      ScalingBench.probeRate(cpus.toInt, 20000000L) // JIT+turbo warmup
      ScalingBench.probeRate(cpus.toInt, 80000000L) / 1e9
    }
    // sequential fsync'd write — the bench's sections are write-heavy
    // (ingest/compact/merge each write GBs), and disk steal is the one
    // contention the cpu/membw probes can't see (observed: healthy cpu +
    // membw probes in a window where dd-style writes ran at 73 % of the
    // box's 673 MB/s wall, exactly the headline shortfall). Idle
    // reference: ~650-680 MB/s.
    val diskWMbps = {
      // probe file lives in java.io.tmpdir — the SAME volume as every
      // bench table root and staged input (all createTempDirectory), so
      // the reading bounds the writes the engine actually performs
      val f = java.nio.file.Files.createTempFile("graft-bench-disk", ".probe")
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      try {
        // 1 MB chunks deliberately: this box's writeback path serves
        // 8 MB-chunk + fdatasync streams at ~1/10th the throughput
        // (measured 44 vs 410 MB/s side by side) — dd-equivalent 1 MB
        // writes probe the wall the engine's parquet writers actually see
        val buf = java.nio.ByteBuffer.allocateDirect(1024 * 1024)
        val t0 = System.nanoTime()
        var i = 0
        while (i < 512) { buf.clear(); while (buf.hasRemaining) ch.write(buf); i += 1 }
        ch.force(false)
        512.0 / ((System.nanoTime() - t0) / 1e9)
      } finally { ch.close(); java.nio.file.Files.deleteIfExists(f) }
    }

    val wall0 = System.nanoTime()

    // all trial samples per section (insertion-ordered for the JSON)
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    def record(name: String, sec: Double): Unit =
      samples(name) = samples.getOrElse(name, Nil) :+ sec
    def best(name: String): Double = samples(name).min

    // ---------- staged inputs (built ONCE, outside every timed section) --
    // The generator's token arrays are interpreted-HOF-heavy; timing it
    // inside append would charge data synthesis to the engine. The staged
    // parquet is read-only and shared by every trial.
    val stage = Files.createTempDirectory("graft-bench-in").toString
    TokenGen.generate(spark, rows, numFiles = nFiles).write.mode("overwrite").parquet(stage)
    // MERGE input: 1% updates + 0.1% inserts, staged for the same reason
    val updates = TokenGen.generate(spark, rows / 100, idStart = 0, numFiles = 4)
    val inserts = TokenGen.generate(spark, rows / 1000, idStart = rows * 10, numFiles = 1)
    val updStage = Files.createTempDirectory("graft-bench-upd").toString
    updates.unionByName(inserts).write.mode("overwrite").parquet(updStage)
    // a second, disjoint-range 1% update set for the MOR merge section
    // (re-applying updStage would merely re-match the rows the COW merge
    // just wrote)
    val updMorStage = Files.createTempDirectory("graft-bench-updmor").toString
    TokenGen.generate(spark, rows / 100, idStart = rows / 5, numFiles = 4)
      .write.mode("overwrite").parquet(updMorStage)

    val headline = Seq("q01_agg", "q03_join", "q05_date_trunc", "q10_maintain_scan",
      "q21_minhash_pairs", "q22_simhash_pairs", "q24_embed_neardup", "q25_ann_topk",
      "q30_token_count", "q35_sample_split", "q36_seq_pack", "q37_vocab_topk",
      "q38_pipeline_e2e")

    for (trial <- 1 to trials) {
      // ---------- maintenance sequence on a fresh table root ------------
      val root = Files.createTempDirectory(s"graft-bench-$trial").toString
      val t = TsTable.create(root, TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))

      // re-split to the pathological file count (the read coalesces small
      // files); the repartition shuffle stays inside the timed append,
      // same as the generator's own repartition did before
      val input = spark.read.parquet(stage).repartition(nFiles)
      record("ingest", time(t.append(input))._2)

      def latency(df: DataFrame): Double = time(df.count())._2
      // the full_scan sections MATERIALIZE the sum (head, not count):
      // count() over a global aggregate lets Catalyst prune the token
      // aggregate away entirely — parquet then answers from footer row
      // counts and the "full scan" reads no data pages. Fixed in r05;
      // full_scan_* values from earlier rounds are not comparable (they
      // measured a metadata count, ~0.07 s flat). The sum runs through
      // the codegen'd tok_sum kernel — the HOF `aggregate` form is
      // CodegenFallback and measures interpreted lambda dispatch, not the
      // engine (TokenKernelSpec asserts the two are hash-identical).
      def materialize(df: DataFrame): Double = time(df.head())._2
      def tokSumScan() = t.scan(spark).select(sum(expr("tok_sum(tokens)")))
      val probeDoc = f"doc-${rows / 3}%012d"
      record("scan_point_before", latency(t.scan(spark).where(col("doc_id") === probeDoc)))
      record("scan_ntok_before", latency(t.scan(spark).where(col("n_tok").between(100, 160))))
      record("scan_source_before", latency(t.scan(spark).where(col("source") === "src15")))
      record("full_scan_before", materialize(tokSumScan()))

      // the north-rule headline: compaction + Z-order clustering
      record("compact_zorder", time {
        Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
      }._2)

      record("scan_point_after", latency(t.scan(spark).where(col("doc_id") === probeDoc)))
      record("scan_ntok_after", latency(t.scan(spark).where(col("n_tok").between(100, 160))))
      record("scan_source_after", latency(t.scan(spark).where(col("source") === "src15")))
      record("full_scan_after", materialize(tokSumScan()))

      val updIn = spark.read.parquet(updStage)
      record("merge_upsert", time(MergeInto.merge(spark, t, updIn))._2)

      // merge-on-read MERGE of a DIFFERENT 1% update set (fresh factor —
      // the keys exist, the rows differ): DV-masks the matched rows and
      // appends the updates, so the cost is the update set, not the
      // candidate bytes — the COW merge above rewrites nearly the whole
      // table because a uniform 1% keyset grazes every z-ordered file
      val updMorIn = spark.read.parquet(updMorStage)
      record("merge_upsert_mor", time(MergeInto.mergeMor(spark, t, updMorIn))._2)

      // DELETE WHERE: a contiguous 1% id range (post-zorder, stats keep
      // most files as candidates — the honest worst-ish case)
      val delLo = f"doc-${rows / 2}%012d"
      val delHi = f"doc-${rows / 2 + rows / 100}%012d"
      record("delete_1pct", time {
        graft.maintain.DeleteWhere.delete(spark, t,
          col("doc_id") >= delLo && col("doc_id") < delHi)
      }._2)

      // merge-on-read DELETE of a DIFFERENT 1% range: writes position
      // bitmaps instead of rewriting files — the headline claim is this
      // line staying ~an order of magnitude under delete_1pct, with
      // full_scan_after_dv quantifying the read-through cost of the DV
      // conjunct (runs after delete_1pct so every earlier section stays
      // comparable with pre-DV rounds)
      val dvLo = f"doc-${rows / 4}%012d"
      val dvHi = f"doc-${rows / 4 + rows / 100}%012d"
      record("delete_1pct_dv", time {
        graft.maintain.DeleteWhere.deleteMor(spark, t,
          col("doc_id") >= dvLo && col("doc_id") < dvHi)
      }._2)
      record("full_scan_after_dv", materialize(tokSumScan()))

      record("expire", time(Expire.expire(t, t.version))._2)
      // the trial's table root is never read again — reclaim it NOW so
      // peak /tmp usage stays one-table-sized regardless of trial count
      try graft.meta.PathNorm.deleteTree(java.nio.file.Paths.get(root))
      catch { case _: Exception => () }

      // ---------- headline queries over the shared testdata -------------
      // inside the SAME trial pass, so this trial's maintenance samples and
      // the next trial's are separated by the whole headline suite
      headline.foreach { name =>
        val (_, sec) = time {
          try SparkEntry.queries(name)(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1L }
        }
        record(name, sec)
      }
      System.err.println(f"[bench] trial $trial/$trials done " +
        f"(compact ${best("compact_zorder")}%.2f s best so far)")
    }
    val throughput = rows / best("compact_zorder")

    val wallSec = (System.nanoTime() - wall0) / 1e9
    val qs = samples.map { case (k, v) => "\"" + k + "\":" + f"${v.min}%.3f" }.mkString("{", ",", "}")
    val qMed = samples.map { case (k, v) => "\"" + k + "\":" + f"${median(v)}%.3f" }.mkString("{", ",", "}")
    val ts = java.time.Instant.now().toString
    val totalMin = samples.values.map(_.min).sum
    val totalMed = samples.values.map(median).sum
    val json =
      s"""{"metric":"maintenance_throughput","value":${f"$throughput%.1f"},"unit":"seq/sec","ts":"$ts","total_sec":${f"$totalMin%.1f"},"total_sec_median":${f"$totalMed%.1f"},"wall_sec":${f"$wallSec%.1f"},"trials":$trials,"rows":$rows,"cpus":$cpus,"host_membw_gbps":${f"$membwGbps%.1f"},"host_cpu_gops":${f"$cpuGops%.2f"},"host_disk_wmbps":${f"$diskWMbps%.0f"},"queries":$qs,"queries_median":$qMed,"sf":"$sfDir"}"""
    println(json)
    // machine-readable copies: sbt [info]-prefixes stdout lines, so a log
    // scraper can miss the line above — the file is the reliable channel;
    // every run also appends (timestamped) to the cumulative jsonl record
    // relative to the working directory (sbt forks in the project base)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH/last_run.json")
    try {
      val p = java.nio.file.Paths.get(outFile)
      val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get(".")) // bare filename → cwd
      Files.createDirectories(dir)
      Files.writeString(p, json + "\n")
      Files.writeString(dir.resolve("bench_runs.jsonl"), json + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
    // reclaim the dataset-sized staged inputs so repeated runs don't fill
    // /tmp (trial table roots were deleted as each trial finished)
    Seq(stage, updStage, updMorStage).foreach { d =>
      try graft.meta.PathNorm.deleteTree(java.nio.file.Paths.get(d))
      catch { case _: Exception => () }
    }
  }
}
