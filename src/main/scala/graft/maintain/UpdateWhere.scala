package graft.maintain

import org.apache.spark.sql.{Column, SparkSession}
import graft.table.TsTable

/** UPDATE WHERE — predicate update, the in-place revision operator
  * (re-score a quality column, re-tag a source, patch token arrays after a
  * tokenizer fix). Not in the reference (its log is append-only);
  * north-rule addition alongside DELETE/MERGE/compaction, in both modes of
  * the [[RowLevel]] core. Matched rows take the SET expressions, evaluated
  * against the row's OLD values (standard SQL UPDATE semantics;
  * assignments are simultaneous) and cast to the column's existing type,
  * so the table schema is invariant under UPDATE; time-series tables
  * recompute coverage in the same commit (the SET may touch the ts
  * column). Rows where the predicate is NULL are NOT updated.
  */
object UpdateWhere {

  final case class Report(candidates: Int, filesKept: Int, filesOut: Int,
                          rowsUpdated: Long, version: Long)

  private def report(r: RowLevel.Result): Report =
    Report(r.candidates, r.filesKept, r.filesOut, r.matched, r.version)

  /** Copy-on-write UPDATE: files holding a matched row are rewritten
    * whole, unmatched rows passing through unchanged; a rewrite also
    * materializes any deletion vector away, like compaction. */
  def update(spark: SparkSession, table: TsTable, condition: Column,
             set: Map[String, Column]): Report =
    report(RowLevel.run(spark, table, RowLevel.Predicate(condition), RowLevel.Update(set),
      mor = false))

  /** Merge-on-read UPDATE: the matched rows are masked with
    * deletion-vector sidecars and their UPDATED images are appended as
    * new clustered segments — one atomic commit, exactly the
    * [[MergeInto.mergeMor]] shape. Cost is proportional to the MATCHED
    * rows, not the grazed files' bytes; the read side pays the DV
    * conjunct on grazed files until compaction materializes it away. */
  def updateMor(spark: SparkSession, table: TsTable, condition: Column,
                set: Map[String, Column]): Report =
    report(RowLevel.run(spark, table, RowLevel.Predicate(condition), RowLevel.Update(set),
      mor = true))
}
