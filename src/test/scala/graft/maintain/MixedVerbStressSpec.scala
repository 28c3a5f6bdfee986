package graft.maintain

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.data.TokenGen
import graft.meta._
import graft.table.{ConcurrentSegmentChangeException, TsTable}

/** Whole-engine concurrency stress: five writers run the full verb family
  * (append, copy-on-write DELETE/UPDATE, merge-on-read DELETE/UPDATE via
  * mergeMor/updateMor, compaction) against ONE table from real threads,
  * with no injected sequencing. Each mutator owns a disjoint doc_id class,
  * so the verbs are LOGICALLY independent — but the classes share physical
  * files, so every OCC guard (the Txn conflict set: rewritten or re-DV'd
  * inputs abort the commit) fires under genuine interleavings and the verb
  * retries from a fresh snapshot. Because an abort is a clean no-commit,
  * bounded retry keeps every intended op exactly-once, and the final table
  * must equal an independently computed model — any lost update, resurrected
  * row, or double-applied delete shows up as a multiset mismatch. */
class MixedVerbStressSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def id(i: Long): String = f"doc-$i%012d"
  // zero-padded doc ids make lexicographic = numeric order
  private def inRange(lo: Long, hi: Long) =
    col("doc_id") >= id(lo) && col("doc_id") < id(hi)

  /** OCC aborts (a concurrent writer rewrote or re-DV'd this verb's
    * inputs) are expected under contention; an abort commits NOTHING, so
    * retrying from a fresh snapshot preserves exactly-once. Anything else
    * (or exhaustion) propagates and fails the test. */
  private def retrying[A](label: String, attempts: Int = 40)(op: => A): A = {
    var last: Throwable = null
    for (_ <- 1 to attempts) {
      try return op
      catch {
        case e: ConcurrentSegmentChangeException => last = e; Thread.sleep(50)
      }
    }
    throw new IllegalStateException(s"$label: still aborting after $attempts attempts", last)
  }

  test("mixed verbs from concurrent threads converge to the per-class model") {
    val root = tmpDir("mixed-stress")
    val spread = 50 // small n_tok spread: rows stay cheap, classes stay dense
    val t0 = TsTable.create(root, tokenMeta)
    t0.append(TokenGen.generate(spark, 1600, lenSpread = spread, numFiles = 4))

    def mergeRows: DataFrame =
      TokenGen.generate(spark, 20, idStart = 1200, lenSpread = spread)
        .unionByName(TokenGen.generate(spark, 10, idStart = 30000, lenSpread = spread))
        .withColumn("n_tok", lit(7777))

    val sparkRef = spark
    val pool = Executors.newFixedThreadPool(6)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def submit(label: String)(body: TsTable => Unit) =
      pool.submit(new Callable[Unit] {
        override def call(): Unit =
          try body(TsTable.open(root)) // independent handle per writer
          catch { case e: Throwable => errors.add(new RuntimeException(label, e)) }
      })

    val tasks = Seq(
      // class [0, 400): two copy-on-write deletes
      submit("cow-deleter") { t =>
        retrying("cow-del-1")(DeleteWhere.delete(sparkRef, t, inRange(0, 100)))
        retrying("cow-del-2")(DeleteWhere.delete(sparkRef, t, inRange(200, 250)))
      },
      // class [400, 800): a MOR delete, then a CoW delete over DV'd files
      submit("mor-deleter") { t =>
        retrying("mor-del")(DeleteWhere.deleteMor(sparkRef, t, inRange(400, 500)))
        retrying("cow-del-3")(DeleteWhere.delete(sparkRef, t, inRange(650, 700)))
      },
      // class [800, 1200): overlapping CoW then MOR updates (order within
      // the thread is program order, so the model is deterministic)
      submit("updater") { t =>
        retrying("cow-upd")(UpdateWhere.update(sparkRef, t, inRange(800, 900),
          Map("n_tok" -> (col("n_tok") + 1000))))
        retrying("mor-upd")(UpdateWhere.updateMor(sparkRef, t, inRange(850, 950),
          Map("n_tok" -> (col("n_tok") + 1000))))
      },
      // class [1200, 1600): MOR merge — 20 matched upserts + 10 inserts
      submit("merger") { t =>
        retrying("merge")(MergeInto.mergeMor(sparkRef, t, mergeRows))
      },
      // fresh ids only: appends never contend logically with the mutators
      submit("appender") { t =>
        t.append(TokenGen.generate(sparkRef, 200, idStart = 20000, lenSpread = spread),
          maxRetries = 50)
        t.append(TokenGen.generate(sparkRef, 200, idStart = 20200, lenSpread = spread),
          maxRetries = 50)
      },
      // semantically a no-op; physically rewrites everyone's files, which
      // is what forces the mutators through their abort/retry guards
      submit("compactor") { t =>
        for (_ <- 1 to 2) {
          try Compaction.run(sparkRef, t, targetFileSize = 4L * 1024 * 1024)
          catch { case _: ConcurrentSegmentChangeException => () }
          Thread.sleep(100)
        }
      })

    tasks.foreach(_.get(10, TimeUnit.MINUTES))
    pool.shutdown()
    if (!errors.isEmpty) throw errors.peek()

    // independent model: regenerate the base and apply each class's ops
    val expected = TokenGen.generate(spark, 1600, lenSpread = spread)
      .where(!inRange(0, 100) && !inRange(200, 250) &&
             !inRange(400, 500) && !inRange(650, 700) && !inRange(1200, 1220))
      .withColumn("n_tok", col("n_tok")
        + when(inRange(800, 900), 1000).otherwise(0)
        + when(inRange(850, 950), 1000).otherwise(0))
      .unionByName(mergeRows)
      .unionByName(TokenGen.generate(spark, 400, idStart = 20000, lenSpread = spread))

    val t = TsTable.open(root)
    val key = Seq(col("doc_id"), col("n_tok"), xxhash64(col("tokens")).as("tok_hash"))
    val got = t.scan(spark).select(key: _*)
    val want = expected.select(key: _*)
    assert(got.count() == 1600L - 300L + 400L + 10L)
    assert(got.except(want).isEmpty, "rows the engine kept that the model rejects " +
      "(resurrected delete, double-applied update, or stale merge)")
    assert(want.except(got).isEmpty, "rows the model expects that the engine lost")

    // and the table is still healthy: replayable from scratch, coverage loads
    val reopened = TsTable.open(root)
    assert(reopened.scan(spark).count() == got.count())
  }
}
