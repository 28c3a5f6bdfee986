package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.queryExecutionListeners", classOf[PlanCapture].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val cleanupDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import scala.jdk.CollectionConverters._
    cleanupDirs.asScala.foreach { root =>
      try {
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            try s.iterator().asScala.foreach(rm) finally s.close()
          }
          java.nio.file.Files.deleteIfExists(p)
        }
        rm(root)
      } catch { case _: Exception => () }
    }
  }, "graft-test-tmp-cleanup"))

  def registerForCleanup(p: java.nio.file.Path): Unit = cleanupDirs.add(p)
}

/** Records the executed plan of every successful query while a
  * [[PlanCapture.apply]] block runs. It is registered through
  * `spark.sql.queryExecutionListeners`, so every session gets one —
  * including the isolated sessions maintenance creates with `newSession()`,
  * which a listener added to the test session would not hear. */
final class PlanCapture extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanCapture.sink.get.foreach(_.add(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanCapture {
  private val sink = new java.util.concurrent.atomic.AtomicReference(
    Option.empty[java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]])

  /** The executed plans of the queries `f` runs, in completion order. */
  def apply(spark: SparkSession)(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    sink.set(Some(plans))
    try { f; org.apache.spark.graft.ListenerBusDrain(spark.sparkContext) }
    finally sink.set(None)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  /** Temp dirs are registered for one JVM-exit sweep: a full `sbt test`
    * otherwise leaves ~10 GB of table roots under /tmp per run, which
    * accumulated across sessions to a disk-full that killed a live
    * benchmark. Exit-time (not per-test) deletion keeps dirs inspectable
    * while the suite runs and costs one recursive walk at shutdown. */
  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    SparkTestBase.registerForCleanup(p)
    p.toString
  }
}
