package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Not}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.coverage.Bitmap
import graft.meta.{PathNorm, SegmentMeta}

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
  * `_metadata.row_index` / `_metadata.file_path` columns, so the
  * vectorized reader, column pruning, pushed filters and whole-stage
  * codegen all survive unchanged; a table with no DVs pays literally
  * nothing (the filter is not planned).
  *
  * Scale shape: the PLAN ships only a manifest-sized (file → dv-path)
  * map; bitmap BYTES are loaded lazily by the executors that actually
  * scan the corresponding file (per-JVM cache below), so DV volume never
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

  /** NOT-deleted filter over `_metadata` for `segs`, or None when they
    * carry no DVs (the common, zero-cost case). [[TsTable.read]] is the
    * one caller. */
  private[table] def liveRowFilter(tableRoot: String, segs: Seq[SegmentMeta]): Option[Column] = {
    predicate(tableRoot, segs,
      col("_metadata.file_path"), col("_metadata.row_index"))
  }

  /** Same filter over explicit path/index columns, for the maintenance
    * passes that read positions raw (`TsTable.read(live = false)`) and
    * mask their own (file, position) columns. */
  def predicate(tableRoot: String, segs: Seq[SegmentMeta],
                filePath: Column, rowIndex: Column): Option[Column] = {
    val withDv = segs.filter(_.dvPath.isDefined)
    if (withDv.isEmpty) None
    else {
      val root = PathNorm.canonical(tableRoot)
      val byFile: Map[String, String] = withDv.map { s =>
        PathNorm.canonical(PathNorm.resolve(root, s.path)) -> s"$root/${s.dvPath.get}"
      }.toMap
      import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
      Some(ofExpr(Not(DvDeleted(toExpr(filePath), toExpr(rowIndex), new DvLookup(byFile)))))
    }
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

/** The per-query lookup the generated code calls once per row: resolves
  * the row's file to its DV bitmap (memoized — within a scan task the file
  * changes at most once per split, so the common case is one UTF8String
  * byte-compare) and tests the position. Thread-confined memo: codegen
  * reference objects can be shared across local-mode task threads. */
final class DvLookup(dvByFile: Map[String, String]) extends Serializable {

  private final class Memo {
    var lastPath: UTF8String = _
    var lastBm: Bitmap = _ // null = file has no DV
  }
  @transient private lazy val memo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo
  }

  def deleted(filePath: UTF8String, rowIndex: Long): Boolean = {
    val m = memo.get()
    if (m.lastPath == null || !m.lastPath.equals(filePath)) {
      m.lastPath = filePath.clone()
      m.lastBm = dvByFile.get(PathNorm.canonical(filePath.toString))
        .map(DvCache.bitmap).orNull
    }
    val bm = m.lastBm
    if (bm == null) false
    else {
      if (rowIndex > DeletionVectors.MaxRowsPerFile)
        throw new IllegalStateException(
          s"row position $rowIndex exceeds the DV position domain — file larger than 2^31 rows?")
      bm.contains(rowIndex.toInt)
    }
  }
}

/** `dv_deleted(file_path, row_index)` — true iff the snapshot's DV marks
  * the row deleted. Codegen'd to one virtual call so the scan's filter
  * stays inside whole-stage codegen. */
case class DvDeleted(left: Expression, right: Expression, lookup: DvLookup)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string file_path, bigint row_index), got $l / $r")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_deleted"

  override protected def nullSafeEval(fp: Any, ri: Any): Any =
    lookup.deleted(fp.asInstanceOf[UTF8String], ri.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup, classOf[DvLookup].getName)
    defineCodeGen(ctx, ev, (fp, ri) => s"$ref.deleted($fp, $ri)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
