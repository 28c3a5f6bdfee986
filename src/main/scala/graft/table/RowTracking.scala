package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.meta.{ColStats, PathNorm, SegmentMeta, StatVal}

/** Row tracking (Delta row-tracking / Iceberg row-lineage analog; the
  * reference has no row identity at all — its log is append-only and rows
  * are anonymous). Every row of a tracked table carries
  *
  *   - `_row_id`      — a STABLE long id, unique within the table, that
  *                      survives compaction, re-clustering, CoW DELETE,
  *                      UPDATE (both modes) and MOR verbs, and
  *   - `_row_commit`  — the version of the commit that last created or
  *                      modified the row.
  *
  * Representation is two-tier, exactly Delta's: fresh files carry NOTHING
  * (ids are `baseRowId + parquet row position`, the base assigned at
  * commit time from the table's high-water mark — a pure-metadata cost),
  * and row-preserving rewrites MATERIALIZE the two columns into the new
  * files so the values survive reordering. A scan resolves
  * `coalesce(materialized, default)` per row; both branches are
  * codegen'd, and a never-rewritten table reads ids from arithmetic
  * alone. The per-file default lookup is the same thread-memoized
  * reference-object pattern as [[DvLookup]] — the plan ships one long per
  * file, never a join, and whole-stage codegen survives.
  */
object RowTracking {
  /** Reserved physical/logical column names. */
  val RowIdCol = "_row_id"
  val RowCommitCol = "_row_commit"

  /** Attach `_row_id`/`_row_commit` to a PHYSICAL read of `segs` whose
    * projection includes `_metadata` plus (possibly null) materialized
    * tracking columns. Positions are physical, so DV filters apply AFTER
    * this projection (filters only remove rows; the arithmetic has already
    * bound each row to its id) — [[TsTable.read]] is the one caller. */
  private[table] def attach(df: DataFrame, tableRoot: String, segs: Seq[SegmentMeta]): DataFrame = {
    val unassigned = segs.filter(s => s.baseRowId.isEmpty || s.rowVersion.isEmpty)
    if (unassigned.nonEmpty)
      throw new IllegalStateException(
        s"row tracking: ${unassigned.size} segments carry no baseRowId/rowVersion " +
          s"(written before enablement?): ${unassigned.map(_.segmentId).take(3).mkString(", ")}")
    val root = PathNorm.canonical(tableRoot)
    def key(s: SegmentMeta) = PathNorm.canonical(PathNorm.resolve(root, s.path))
    // ONE shared lookup for both attributes: the plan ships a single
    // per-file map (object-graph sharing keeps one copy in the codegen
    // references), not two — at 10^6 files that halves the manifest
    // weight every tracked scan serializes to executors
    val attrs = new FileAttr(
      segs.map(s => key(s) -> Array(s.baseRowId.get, s.rowVersion.get)).toMap)
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    def look(idx: Int): Column =
      ofExpr(FileAttrLookup(toExpr(col("_metadata.file_path")), attrs, idx))
    df.withColumn(RowIdCol,
        coalesce(col(RowIdCol), look(0) + col("_metadata.row_index")))
      .withColumn(RowCommitCol, coalesce(col(RowCommitCol), look(1)))
  }

  /** Whether `s` can hold a row id in `[lo, hi]`, from the manifest alone —
    * the one file-pruning rule of the row-id reads. A never-rewritten file
    * holds exactly its positional interval `[base, base + rows)`. A
    * rewritten file holds its materialized ids, bounded by the `_row_id`
    * footer stats, plus one positional id (`base + position`) per row
    * written with a NULL id (a MERGE mixes carried ids with rows whose ids
    * its commit mints) — so the positional interval joins the stats one
    * when the stats count nulls or carry no min/max. A stat of unknown
    * shape keeps the file. */
  private[graft] def mayHoldIds(s: SegmentMeta, lo: Long, hi: Long): Boolean = {
    def positional = s.baseRowId.exists(b => b <= hi && b + s.rowCount - 1 >= lo)
    s.stats.get(RowIdCol) match {
      case None | Some(ColStats(None, None, _)) => positional
      case Some(ColStats(Some(StatVal.L(mn)), Some(StatVal.L(mx)), nulls)) =>
        (mn <= hi && mx >= lo) || (nulls > 0 && positional)
      case _ => true
    }
  }

  /** `when(cond, null)` helper for UPDATE-style verbs: a rewritten row
    * whose `_row_commit` is materialized NULL falls back to its new
    * file's rowVersion — i.e. the updating commit — with zero
    * version-prediction games (the version isn't known until the OCC
    * commit lands). */
  def commitOfThisWrite: Column = lit(null).cast(LongType)
}

/** Per-file long attributes (index 0 = base row id, 1 = default row
  * commit version), memoized per task thread like [[DvLookup]] — within a
  * scan task the file changes at most once per split, so the common case
  * is one UTF8String byte-compare and an array read. */
final class FileAttr(byFile: Map[String, Array[Long]]) extends Serializable {
  private final class Memo {
    var lastPath: UTF8String = _
    var lastVals: Array[Long] = _
  }
  @transient private lazy val memo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo
  }

  def get(filePath: UTF8String, idx: Int): Long = {
    val m = memo.get()
    if (m.lastPath == null || !m.lastPath.equals(filePath)) {
      m.lastPath = filePath.clone()
      m.lastVals = byFile.getOrElse(PathNorm.canonical(filePath.toString),
        throw new IllegalStateException(
          s"row tracking: no base registered for scanned file $filePath"))
    }
    m.lastVals(idx)
  }
}

/** `file_attr(file_path)[idx]` — the snapshot's per-file long attribute.
  * Codegen'd to one virtual call so id arithmetic stays inside
  * whole-stage codegen. */
case class FileAttrLookup(child: Expression, lookup: FileAttr, idx: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string file_path, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "file_attr"

  override protected def nullSafeEval(fp: Any): Any =
    lookup.get(fp.asInstanceOf[UTF8String], idx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileAttr", lookup, classOf[FileAttr].getName)
    defineCodeGen(ctx, ev, fp => s"$ref.get($fp, $idx)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
