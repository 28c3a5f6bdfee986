package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.coverage.Bitmap
import graft.meta.PathNorm
import graft.scan.TsFileIndex

/** Merge-on-read deletion vectors (Delta-DV / Iceberg-positional-delete
  * analog; a north-rule maintenance addition — the reference's log is
  * append-only, metadata/segments.rs has no delete verb at all).
  *
  * A DV is an immutable sidecar bitmap of DELETED ROW POSITIONS for one
  * data file ([[graft.coverage.Bitmap]] bytes under `_dv/`). DELETE WHERE
  * in MOR mode writes one tiny bitmap per grazed file instead of
  * rewriting the file — at 100 TB, deleting 1 % of rows becomes KBs of
  * sidecar writes instead of a ~1 TB copy-on-write pass. The scan applies
  * DVs as ONE extra codegen'd conjunct over Parquet's native
  * `_metadata.row_index` and the file's `_metadata.dv_path` constant, so
  * the vectorized reader, column pruning, pushed filters and whole-stage
  * codegen all survive unchanged; a table with no DVs pays literally
  * nothing (the filter is not planned), and a clean file of a DV'd
  * snapshot one null test per row.
  *
  * Scale shape: each file's sidecar path rides in the file listing
  * ([[graft.scan.TsFileIndex]]), so the PLAN ships nothing per file;
  * bitmap BYTES are loaded lazily by the executors that actually scan the
  * corresponding file (per-JVM cache below), so DV volume never
  * concentrates on the driver. Compaction materializes DVs away (its
  * rewrite reads files DV-filtered and emits fresh segments); snapshot
  * expiration reclaims unreferenced DV files like any other sidecar.
  */
object DeletionVectors {

  /** Rows per file must fit the Int position domain of [[Bitmap]]. A
    * single parquet file approaching 2^31 rows is far past every writer's
    * file-size target (our own appends/compaction bin to ~hundreds of MB),
    * so this is a guard, not a limit anyone meets. */
  val MaxRowsPerFile: Long = Int.MaxValue.toLong

  /** The NOT-deleted filter over `_metadata`, for a read of segments some
    * of which carry DVs. [[TsTable.read]] is the one caller. */
  private[table] def liveRowFilter: Column =
    !deleted(col("_metadata." + TsFileIndex.DvPath), col("_metadata.row_index"))

  /** Whether the DV at `dvPath` (resolved; NULL = no DV) marks position
    * `rowIndex` deleted — false, never NULL, for a clean file. */
  def deleted(dvPath: Column, rowIndex: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(DvDeleted(toExpr(dvPath), toExpr(rowIndex)))
  }

  /** Read a DV sidecar (absolute path) into a bitmap. */
  def readDv(absPath: String): Bitmap =
    Bitmap.deserialize(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(PathNorm.stripFileScheme(absPath))))
}

/** Executor-side DV bitmap cache. DV files are IMMUTABLE (every DELETE
  * writes a fresh path and the commit swaps the pointer), so entries
  * never invalidate; the cap only bounds memory on a long-lived executor
  * scanning many snapshots. */
private[graft] object DvCache {
  private val MaxEntries = 1024
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Bitmap](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Bitmap]): Boolean =
        size() > MaxEntries
    })

  def bitmap(absPath: String): Bitmap = {
    val got = cache.get(absPath)
    if (got != null) got
    else {
      val bm = DeletionVectors.readDv(absPath)
      cache.put(absPath, bm)
      bm
    }
  }
}

/** The lookup the generated code calls once per row: resolves a DV
  * sidecar path to its bitmap (memoized per task thread — within a scan
  * task the file changes at most once per split, so the common case is
  * one UTF8String byte-compare) and tests the position. DV files are
  * immutable, so a path's bitmap never changes and the memo needs no
  * scoping to a query. */
object DvLookup {

  private final class Memo {
    var lastPath: UTF8String = _
    var lastBm: Bitmap = _
  }
  private val memo = ThreadLocal.withInitial[Memo](() => new Memo)

  def deleted(dvPath: UTF8String, rowIndex: Long): Boolean = {
    val m = memo.get()
    if (m.lastPath == null || !m.lastPath.equals(dvPath)) {
      m.lastBm = DvCache.bitmap(dvPath.toString)
      m.lastPath = dvPath.clone()
    }
    if (rowIndex > DeletionVectors.MaxRowsPerFile)
      throw new IllegalStateException(
        s"row position $rowIndex exceeds the DV position domain — file larger than 2^31 rows?")
    m.lastBm.contains(rowIndex.toInt)
  }
}

/** `dv_deleted(dv_path, row_index)` — true iff the DV at `dv_path` marks
  * the row deleted. A NULL `dv_path` (a clean file) gives false, not NULL,
  * without a lookup, so `NOT dv_deleted(…)` keeps every row of a clean
  * file. Codegen'd to one static call so the scan's filter stays inside
  * whole-stage codegen. */
case class DvDeleted(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string dv_path, bigint row_index), got $l / $r")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "dv_deleted"

  override def eval(input: InternalRow): Any = {
    val p = left.eval(input)
    val i = right.eval(input)
    p != null && i != null && DvLookup.deleted(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = left.genCode(ctx)
    val i = right.genCode(ctx)
    val lookup = DvLookup.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${p.code}
      ${i.code}
      boolean ${ev.value} = !${p.isNull} && !${i.isNull} && $lookup.deleted(${p.value}, ${i.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
