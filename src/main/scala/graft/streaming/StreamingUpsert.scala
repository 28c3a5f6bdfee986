package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.maintain.MergeInto
import graft.table.{ConcurrentSegmentChangeException, TsTable}

/** Structured Streaming UPSERT into a graft table — the CDC-apply shape of
  * the north rule's "upsert of revised sequences": a stream of revised
  * rows (re-tokenized docs, quality re-scores) lands as one transactional
  * MERGE per micro-batch.
  *
  * Exactly-once is the SAME transactional discipline as
  * [[StreamingIngest]]: each batch merges with `txn = (appId, batchId)`
  * (appId derived from the checkpoint location — the identity Spark keys
  * batch replay on), the watermark lands as a SetTxn action in the SAME
  * log commit as the merge's segment changes, and a replayed batch after
  * recovery is skipped inside the commit's OCC loop — no crash window
  * between the data change and the marker, no double-apply even when the
  * driver dies between the table commit and Spark's checkpoint write.
  *
  * `mor = true` (default) applies each batch merge-on-read
  * ([[MergeInto.mergeMor]]): matched old rows are masked with
  * deletion-vector sidecars and the batch lands as new clustered
  * segments — per-batch cost proportional to the BATCH, never to the
  * grazed files' bytes, which is the only shape that survives a
  * high-frequency stream against a 10^12-row table (compaction later
  * materializes the DVs away). `mor = false` uses the copy-on-write
  * [[MergeInto.merge]] — full rewrite of grazed files per batch; only
  * sensible for low-frequency, large-batch revision feeds.
  */
object StreamingUpsert {

  /** A merge aborts (commits NOTHING, throwing
    * [[ConcurrentSegmentChangeException]]) when a concurrent maintenance
    * job rewrote or re-DV'd its candidates mid-flight; retrying recomputes
    * from a fresh snapshot, so bounded in-sink retries keep a transient
    * compaction race from failing the whole streaming query. Anything
    * else (or exhaustion) propagates — Spark's own query restart replays
    * the batch into the exactly-once watermark. */
  private[graft] def retryingAborts[A](attempts: Int)(op: => A): A = {
    var last: Throwable = null
    for (i <- 1 to attempts) {
      try return op
      catch {
        case e: ConcurrentSegmentChangeException => last = e; Thread.sleep(50L * i)
      }
    }
    throw last
  }

  /** Attach a graft-table upsert sink to a streaming DataFrame of revised
    * rows (full table schema, key-unique per batch after dedup). Caller
    * starts the query (so tests can use Trigger.AvailableNow with
    * MemoryStream). */
  def sink(stream: DataFrame, table: TsTable, checkpointDir: String,
           key: String = "doc_id", mor: Boolean = true): DataStreamWriter[Row] = {
    val app = StreamingIngest.appId(checkpointDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty batches still advance the watermark inside mergeMor/merge
        // (a watermark-only Txn), mirroring the append sink — no pre-flight job
        val txn = Some((app, batchId))
        retryingAborts(5) {
          if (mor) MergeInto.mergeMor(batch.sparkSession, table, batch, key, txn = txn)
          else MergeInto.merge(batch.sparkSession, table, batch, key, txn = txn)
        }
        ()
      }
  }

  /** Convenience: apply all currently-available batches and wait. */
  def applyAvailable(stream: DataFrame, table: TsTable, checkpointDir: String,
                     key: String = "doc_id", mor: Boolean = true): StreamingQuery = {
    val q = sink(stream, table, checkpointDir, key, mor).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
