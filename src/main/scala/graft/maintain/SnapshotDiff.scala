package graft.maintain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.TsTable

/** Snapshot diff — row-level changes between two table versions, keyed by
  * a unique id column: the batch form of a change-data-feed (Delta
  * `table_changes` analog; the reference has time-travel reads but no
  * change feed). Output = the table's columns plus `_change_type` ∈
  * {insert, delete, update_pre, update_post}; an UPDATE emits its pre and
  * post image as two rows. Because the diff compares STATES, a row
  * updated then deleted inside the range nets to one `delete`, exactly
  * like a compacted change feed.
  *
  * Two plans, picked from the log (metadata only, no data read):
  *  - APPEND-ONLY fast path: if no commit in (from, to] removes a
  *    segment, the change set is exactly the rows of the segments those
  *    commits added — a pruned parquet read of only the new files, zero
  *    joins, zero shuffles. This is the steady-state streaming-ingest
  *    shape, so the common case costs proportional to the CHANGES, not
  *    the table.
  *  - General path: one full-outer sort-merge join of the two snapshots
  *    on the key (each side a pruned parquet scan; no driver state, no
  *    collect), classifying each key by null-side and by non-key struct
  *    equality (`<=>`, so NULL fields compare stably). One join, one
  *    pass: the classification explodes per-row change arrays instead of
  *    re-running the join per change type. At 10^12 rows this is the
  *    operator's honest cost — a keyed diff of two full snapshots — which
  *    is why the log-driven fast path exists and is preferred
  *    automatically.
  *
  * Requires the key to be unique per snapshot (enforced cheaply: the join
  * would fan out duplicate keys; callers own key semantics, as in MERGE).
  */
object SnapshotDiff {

  def diff(spark: SparkSession, table: TsTable, fromVersion: Long, toVersion: Long,
           key: String): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff range is backwards: v$fromVersion > v$toVersion")
    val postState = graft.log.TableState.rebuildAt(table.store, toVersion)
    val post = table.read(spark, postState)
    val cols = post.schema.fieldNames.toSeq
    require(cols.contains(key), s"diff key '$key' is not a table column: $cols")

    // ---- append-only fast path (log metadata decides; no data read) ----
    // no commit in the range changes existing rows (Commit.changesRows),
    // so the change set is the rows the range added. An empty range is
    // append-only with nothing added.
    val commits = table.store.commits(fromVersion + 1, toVersion)
    if (!commits.exists(_.changesRows))
      return ChangeFeed.inserts(spark, table, commits.flatMap(_.adds),
        postState.tableMeta.get, tracked = false)

    // ---- general path: one keyed full-outer join of the two states -----
    val pre = table.scanAt(spark, fromVersion)
    require(pre.schema.fieldNames.sameElements(post.schema.fieldNames),
      "snapshot schemas differ across the diff range; diff requires a stable column set")
    val nonKey = cols.filterNot(_ == key)
    // NULL keys never join (SQL equality) and would misclassify by
    // null-side; exclude them from the diff domain, like MERGE ON does
    val a = pre.where(col(key).isNotNull).alias("a")
    val b = post.where(col(key).isNotNull).alias("b")
    val aKey = col(s"a.`$key`"); val bKey = col(s"b.`$key`")
    def image(side: String, tag: String): Column =
      struct((cols.map(c => col(s"$side.`$c`").as(c)) :+ lit(tag).as("_change_type")): _*)
    val differs =
      if (nonKey.isEmpty) lit(false)
      else !(struct(nonKey.map(c => col(s"a.`$c`")): _*) <=>
             struct(nonKey.map(c => col(s"b.`$c`")): _*))
    val changes = when(aKey.isNull, array(image("b", "insert")))
      .when(bKey.isNull, array(image("a", "delete")))
      .otherwise(array(image("a", "update_pre"), image("b", "update_post")))
    a.join(b, aKey === bKey, "full_outer")
      // unchanged keys (the overwhelming majority) drop BEFORE the
      // explode, so downstream sees rows proportional to the change set
      .where(aKey.isNull || bKey.isNull || differs)
      .select(explode(changes).as("__c"))
      .select((cols :+ "_change_type").map(c => col(s"__c.`$c`").as(c)): _*)
  }
}
