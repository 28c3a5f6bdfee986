package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval; times are epoch milliseconds. `parent` is 0 for a
  * root span. Job and stage spans carry the layer of the call that
  * started them: Spark work is charged to that module. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durationMs: Double = endMs - startMs
}

/** What one benchmark call cost, from its span and its Spark jobs. Input
  * is counted in rows: Spark's bytesRead misses Parquet's vectored reads,
  * which run off the task thread. */
final case class CallCost(wallMs: Double, driverMs: Double, jobs: Double, tasks: Double,
                          taskMs: Double, inputRows: Double, shuffleWriteBytes: Double,
                          outputBytes: Double, spillBytes: Double)

/** In-memory tracer for one client thread. `span` records the interval of
  * a call into an engine module and tags every Spark job the call submits
  * (via a local property); a listener records those jobs and their stages,
  * which `finish` turns into child spans. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  private val PropKey = "perfbench.span"
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private val calls = mutable.ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 1L

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val attrs = Map(
        "tasks" -> i.numTasks.toDouble,
        "task_ms" -> (if (m == null) 0.0 else m.executorRunTime.toDouble),
        "input_rows" -> (if (m == null) 0.0 else m.inputMetrics.recordsRead.toDouble),
        "shuffle_write_bytes" -> (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten.toDouble),
        "output_bytes" -> (if (m == null) 0.0 else m.outputMetrics.bytesWritten.toDouble),
        "spill_bytes" -> (if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      val start = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      val end = i.completionTime.map(_.toDouble).getOrElse(start)
      jobs.synchronized { stages += StageRec(i.stageId, start, end, attrs) }
    }
  }
  sc.addSparkListener(listener)

  /** Run `f` as a span named `name` in module `layer`, nested in the
    * innermost open span. */
  def span[A](layer: String, name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(PropKey, id.toString)
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      open = open.tail
      sc.setLocalProperty(PropKey, open.headOption.map(_.toString).orNull)
      calls += Span(id, parent, name, layer, t0, t1)
    }
  }

  /** Stop listening and return every span: benchmark calls, then Spark
    * jobs (children of the call that submitted them), then stages
    * (children of their job). A job whose tag names no span that was
    * open when it started (a pooled thread can carry a stale tag) is
    * charged to the innermost call open at its start time. */
  def finish(): Seq[Span] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    val byId = calls.map(s => s.id -> s).toMap
    val slackMs = 2.0
    def contains(s: Span, t: Double) = s.startMs - slackMs <= t && t <= s.endMs + slackMs
    def owner(j: JobRec): Option[Span] =
      j.spanId.flatMap(byId.get).filter(contains(_, j.startMs)).orElse {
        val open = calls.filter(contains(_, j.startMs))
        if (open.isEmpty) None else Some(open.maxBy(_.startMs))
      }
    var id = nextId
    val jobSpans = mutable.ArrayBuffer.empty[Span]
    val stageOwner = mutable.Map.empty[Int, Span]
    jobs.synchronized {
      jobs.values.foreach { j =>
        owner(j).foreach { call =>
          val end = if (j.endMs.isNaN) call.endMs else j.endMs
          val js = Span(id, call.id, s"job ${j.jobId}", call.layer, j.startMs, end)
          id += 1
          jobSpans += js
          j.stageIds.foreach(st => if (!stageOwner.contains(st)) stageOwner(st) = js)
        }
      }
      val stageSpans = stages.flatMap { st =>
        stageOwner.get(st.stageId).map { js =>
          val s = Span(id, js.id, s"stage ${st.stageId}", js.layer,
            if (st.startMs.isNaN) js.startMs else st.startMs,
            if (st.endMs.isNaN) js.endMs else st.endMs, st.attrs)
          id += 1
          s
        }
      }
      calls.toSeq ++ jobSpans ++ stageSpans
    }
  }
}

object Tracer {
  private final case class JobRec(jobId: Int, spanId: Option[Long], startMs: Double,
                                  stageIds: Seq[Int], var endMs: Double = Double.NaN)
  private final case class StageRec(stageId: Int, startMs: Double, endMs: Double, attrs: Map[String, Double])

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime(s.startMs, s.endMs,
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
    }.toMap
  }

  /** Cost of each call span named `name`, in call order. Driver time is
    * the call's wall time minus the union of its jobs' intervals. */
  def callCosts(spans: Seq[Span], name: String): Seq[CallCost] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.name == name).sortBy(_.startMs).map { c =>
      val jobs = kids.getOrElse(c.id, Nil).filter(_.name.startsWith("job "))
      val st = jobs.flatMap(j => kids.getOrElse(j.id, Nil))
      def sum(k: String) = st.map(_.attrs.getOrElse(k, 0.0)).sum
      CallCost(c.durationMs,
        Stats.selfTime(c.startMs, c.endMs, jobs.map(j => (j.startMs, j.endMs))),
        jobs.size.toDouble, sum("tasks"), sum("task_ms"), sum("input_rows"),
        sum("shuffle_write_bytes"), sum("output_bytes"), sum("spill_bytes"))
    }
  }
}
