package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DayTimeIntervalType, TimestampNTZType, TimestampType}

/** Time-bucketing kernel for the `date_bin` SQL function — the literal
  * name-level analog of the reference's DataFusion `date_bin` pruning
  * surface (timeseries-table-datafusion/src/ts_table_provider/
  * time_predicate.rs:513-551). Spark itself has no `date_bin`; the
  * semantics here are the public PostgreSQL/DataFusion contract:
  *
  *   date_bin(stride, ts, origin) =
  *     origin + floorDiv(ts − origin, stride) · stride
  *
  * i.e. the start of the stride-aligned bin (anchored at `origin`)
  * containing `ts`. Exact floor semantics for every ts including
  * pre-origin values; pure micros arithmetic, so it is zone-free on both
  * TIMESTAMP and TIMESTAMP_NTZ. The bin is non-decreasing in ts, so file
  * pruning bounds `date_bin(...) OP TIMESTAMP '…'` by evaluating the
  * `DateBin` node itself at a file's min/max, like the `window()` and
  * floor-div forms.
  */
object TimeKernels {
  /** All three in micros; stride must be positive. */
  def dateBin(strideUs: Long, tsUs: Long, originUs: Long): Long = {
    if (strideUs <= 0L)
      throw new IllegalArgumentException(s"date_bin stride must be positive, got $strideUs us")
    Math.addExact(originUs,
      Math.multiplyExact(Math.floorDiv(Math.subtractExact(tsUs, originUs), strideUs), strideUs))
  }
}

/** `date_bin(stride DAY-TIME INTERVAL, ts, origin)` — codegen'd; result
  * type follows the timestamp flavor of `ts`. Month/year strides are
  * rejected by typing (day-time intervals only), matching PostgreSQL. */
case class DateBin(stride: Expression, ts: Expression, anchor: Expression)
    extends TernaryExpression {

  override def first: Expression = stride
  override def second: Expression = ts
  override def third: Expression = anchor

  private def isTs(dt: DataType): Boolean = dt == TimestampType || dt == TimestampNTZType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!stride.dataType.isInstanceOf[DayTimeIntervalType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName stride must be a day-time interval, got ${stride.dataType} " +
          "(month/year strides are rejected, matching PostgreSQL)")
    else if (!isTs(ts.dataType) || !isTs(anchor.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs timestamp ts and origin, got ${ts.dataType} / ${anchor.dataType}")
    else if (ts.dataType != anchor.dataType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs ts and origin of the same timestamp type, " +
          s"got ${ts.dataType} / ${anchor.dataType}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ts.dataType
  override def prettyName: String = "date_bin"

  override protected def nullSafeEval(s: Any, t: Any, o: Any): Any =
    TimeKernels.dateBin(s.asInstanceOf[Long], t.asInstanceOf[Long], o.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, t, o) => s"graft.functions.TimeKernels.dateBin($s, $t, $o)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(stride = f, ts = s, anchor = t)
}
