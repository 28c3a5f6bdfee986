package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.log.{LogAction, TableState}
import graft.maintain.Compaction
import graft.meta._
import graft.scan.{FilePruning, StatsPruning}

/** Driver-side metadata costs at production file counts.
  *
  * At 100 TB with 128 MB data files a table holds ~10⁶ manifest entries,
  * and four driver-side paths are O(files): commit replay
  * (TableState.apply per action), checkpoint serialize/parse, compaction
  * planning (sort + greedy pack), and stats pruning (per-file predicate
  * evaluation in TsFileIndex.listFiles, a Catalyst eval per file for a
  * transform predicate). None of them may touch the
  * data plane, and all of them must stay interactive — a planner that
  * takes minutes at 10⁵ files is a scale bug no sf-scale correctness
  * gate would catch. This spec synthesizes 200 000 segment entries
  * (metadata only, no files) and bounds each path.
  *
  * Bounds are ~10× the times measured on an idle host (replay ~0.2 s,
  * roundtrip ~2 s, plan ~0.3 s, prune ~0.6 s) so host noise cannot flake
  * the suite while a quadratic regression still fails it loudly.
  */
class MetadataScaleSpec extends SparkFunSuite {

  private val N = 200000
  /** 2024-03-01T00:00:00Z: file i's `ts` spans 1.8 s from
    * HourUs + (i − 1000)·1.8 s, so files 1000..2999 fill exactly this hour. */
  private val HourUs = 1709251200L * 1000000L
  private val SpanUs = 1800000L

  private def seg(i: Int): SegmentMeta = {
    val lo = f"doc-${i.toLong * 1000}%012d"
    val hi = f"doc-${i.toLong * 1000 + 999}%012d"
    SegmentMeta(
      segmentId = f"seg-$i%08d",
      path = f"data/part-$i%08d.parquet",
      format = "parquet",
      rowCount = 3000L,
      // half "small" (below a 64 MB target) so plan() has real packing work
      fileSize = Some(if (i % 2 == 0) 8L * 1024 * 1024 else 64L * 1024 * 1024),
      stats = Map(
        "doc_id" -> ColStats(Some(StatVal.S(lo)), Some(StatVal.S(hi)), 0L),
        "n_tok" -> ColStats(Some(StatVal.L((i % 512).toLong)), Some(StatVal.L((i % 512 + 64).toLong)), 0L),
        "source" -> ColStats(Some(StatVal.S(s"src${i % 20}")), Some(StatVal.S(s"src${i % 20}")), 0L),
        "ts" -> ColStats(Some(StatVal.L(HourUs + (i - 1000L) * SpanUs)),
          Some(StatVal.L(HourUs + (i - 999L) * SpanUs - 1L)), 0L)),
      coveragePath = None)
  }

  private lazy val segs: Vector[SegmentMeta] = (0 until N).map(seg).toVector

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test(s"commit replay applies $N AddSegment + 10k RemoveSegment in bounded driver time") {
    val ((state, removed), sec) = timed {
      var st = TableState.empty
      segs.foreach(s => st = st.apply(LogAction.AddSegment(s)))
      val victims = (0 until 10000).map(i => segs(i * (N / 10000)).segmentId)
      victims.foreach(id => st = st.apply(LogAction.RemoveSegment(id)))
      (st, victims.size)
    }
    info(f"replay of ${N + removed} actions: $sec%.2f s")
    assert(state.segments.size == N - removed)
    assert(sec < 10.0, f"replay took $sec%.1f s for ${N + removed} actions — superlinear?")
  }

  test(s"checkpoint JSON roundtrip of $N segments stays interactive") {
    val full = segs.foldLeft(TableState.empty)((st, s) => st.apply(LogAction.AddSegment(s)))
      .copy(version = 12345L)
    val (json, serSec) = timed(full.toJson.toString)
    val (back, parseSec) = timed(TableState.fromJson(Json.parse(json)))
    info(f"serialize: $serSec%.2f s (${json.length / 1024 / 1024} MB), parse: $parseSec%.2f s")
    assert(back.version == 12345L)
    assert(back.segments.size == N)
    assert(back.segments("seg-00000007") == segs(7))
    assert(serSec < 20.0 && parseSec < 20.0,
      f"checkpoint roundtrip $serSec%.1f/$parseSec%.1f s at $N files — superlinear?")
  }

  test(s"compaction planning over $N segments is sub-second-scale driver arithmetic") {
    val (bins, sec) = timed(Compaction.plan(segs, targetFileSize = 64L * 1024 * 1024))
    info(f"plan: $sec%.2f s, ${bins.size} bins over ${bins.map(_.segments.size).sum} inputs")
    // the 100k small files (8 MB each) pack into ≥ 2 bins under the
    // 64-file-group cap; none of the 64 MB files are selected
    assert(bins.nonEmpty)
    assert(bins.map(_.segments.size).sum == N / 2)
    val cap = 64L * 1024 * 1024 * 64
    bins.foreach(b => assert(b.bytes <= cap))
    assert(sec < 5.0, f"plan took $sec%.1f s at $N files — superlinear?")
  }

  test(s"row tracking: id allocation + range pruning over $N segments stay driver-cheap") {
    // the commit-time allocation walk (assignRowTracking's shape): one
    // linear pass assigning [hw, hw+rows) per add — bound it like replay
    val (hw, allocSec) = timed {
      var w = 0L
      segs.foreach { s => w += s.rowCount }
      w
    }
    assert(hw == N.toLong * 3000L)
    // the row-id reads' prune (RowTracking.mayHoldIds): interval
    // intersection per file over a ~1% id band (positional arm — the
    // stats arm is the same per-file O(1))
    val tracked = segs.zipWithIndex.map { case (s, i) =>
      s.copy(baseRowId = Some(i.toLong * 3000L), rowVersion = Some(7L)) }
    val lo = 1000L * 3000L
    val hi = 3000L * 3000L - 1L
    val (kept, pruneSec) = timed {
      tracked.count(graft.table.RowTracking.mayHoldIds(_, lo, hi))
    }
    info(f"alloc walk: $allocSec%.3f s, id-range prune: $pruneSec%.3f s, kept $kept of $N")
    assert(kept == 2000)
    // the per-scan lookup map for the WHOLE table (worst case: a full
    // tracked scan) builds in bounded time too
    val (m, mapSec) = timed {
      tracked.map(s => s.path -> Array(s.baseRowId.get, s.rowVersion.get)).toMap
    }
    assert(m.size == N)
    info(f"lookup-map build: $mapSec%.3f s for $N files")
    assert(allocSec < 2.0 && pruneSec < 2.0 && mapSec < 5.0,
      f"row-tracking metadata pass superlinear? alloc=$allocSec%.1f prune=$pruneSec%.1f map=$mapSec%.1f")
  }

  test(s"a row-tracked, DV'd read plans no per-file state: its expressions do not grow to $N files") {
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("n_tok", LongType),
      StructField("source", StringType), StructField("ts", TimestampType)))
    val meta = TableMeta("scale", TableKind.Clustered(ClusterSpec(Seq("source", "doc_id"), "zorder")),
      Some(schema.json), None, rowTracking = true)
    val t = graft.table.TsTable.create(tmpDir("metadata-scale"), meta)
    // every file tracked, every tenth one DV'd
    val tracked = segs.zipWithIndex.map { case (s, i) =>
      s.copy(baseRowId = Some(i.toLong * 3000L), rowVersion = Some(7L),
        dvPath = Option.when(i % 10 == 0)(f"_dv/dv-$i%08d.dv"), dvCardinality = 1L) }
    // the Java-serialized expressions of the analyzed read, as they would
    // ship to executors in the plan
    def planBytes(files: Int): Int = {
      val plan = t.read(spark, tracked.take(files), Some(meta), ids = true).queryExecution.analyzed
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(plan.flatMap(_.expressions).toVector)
      out.close()
      bytes.size
    }
    val (small, big) = (planBytes(1000), planBytes(N))
    info(s"serialized plan expressions: $small B at 1000 files, $big B at $N files")
    assert(big <= small + 1024, s"plan expressions grew from $small B to $big B with the file count")
  }

  test(s"stats pruning evaluates a predicate against $N files in bounded time, exact result") {
    val docId = AttributeReference("doc_id", StringType)()
    def slit(s: String) = Literal(UTF8String.fromString(s), StringType)
    // a ~1% doc_id band: files 1000..2999 (ids are 1000 docs per file)
    val band = And(
      GreaterThanOrEqual(docId, slit(f"doc-${1000L * 1000}%012d")),
      LessThan(docId, slit(f"doc-${3000L * 1000}%012d")))
    // the same files by time, through a transform Catalyst evaluates per file
    val hour = EqualTo(
      TruncTimestamp(Literal("hour"), AttributeReference("ts", TimestampType)(), Some("UTC")),
      Literal(HourUs, TimestampType))
    for ((name, pred) <- Seq("doc_id band" -> band, "date_trunc('hour', ts)" -> hour)) {
      val (kept, sec) = timed {
        val p = StatsPruning.prepare(pred)
        segs.count(s => p(s.stats, s.rowCount) != StatsPruning.AlwaysFalse)
      }
      info(f"$name prune pass: $sec%.2f s, kept $kept of $N")
      assert(kept == 2000) // exactly the band's files survive
      assert(sec < 5.0, f"$name prune pass took $sec%.1f s at $N files — superlinear?")
    }
  }

  test(s"a point lookup past the bloom tier's file cap opens no footer over $N files") {
    import org.apache.hadoop.conf.Configuration
    val source = AttributeReference("source", StringType)()
    val docId = AttributeReference("doc_id", StringType)()
    def slit(s: String) = Literal(UTF8String.fromString(s), StringType)
    val lookup = EqualTo(source, slit("src3"))
    // every footer open instantiates the counting file system; the
    // synthetic files do not exist, so a probe would fail and keep its file
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FooterOpenCounter].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    def prune(filters: Seq[Expression], cap: Int = FilePruning.BloomFileCap) =
      FilePruning.prune(segs, filters, Some("source"), cap, conf)(
        identity, s => s"/graft-metadata-scale/${s.path}")

    FooterOpenCounter.opened.set(0)
    val (kept, sec) = timed(prune(Seq(lookup)))
    info(f"point lookup over ${kept.size} stats-kept files: $sec%.2f s")
    assert(kept.size == N / 20 && kept.size > FilePruning.BloomFileCap)
    assert(FooterOpenCounter.opened.get == 0, "the bloom tier probed past its file cap")
    assert(sec < 5.0, f"point-lookup prune took $sec%.1f s at $N files — superlinear?")

    // maintenance probes every stats survivor: one footer open each (the
    // synthetic files keep)
    val probed = prune(Seq(lookup), cap = Int.MaxValue)
    assert(probed.size == kept.size && FooterOpenCounter.opened.get == kept.size)
    FooterOpenCounter.opened.set(0)

    // below the cap the tier probes each stats-kept file: files 0..99 hold
    // src3 five times
    val few = prune(Seq(lookup, LessThan(docId, slit(f"doc-${100L * 1000}%012d"))))
    assert(few.size == 5 && FooterOpenCounter.opened.get == 5)
  }
}

/** A local file system that counts its instances: with its cache off,
  * every footer open makes one. */
final class FooterOpenCounter extends org.apache.hadoop.fs.LocalFileSystem {
  override def initialize(name: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    FooterOpenCounter.opened.incrementAndGet()
    super.initialize(name, conf)
  }
}

object FooterOpenCounter {
  val opened = new java.util.concurrent.atomic.AtomicInteger()
}
