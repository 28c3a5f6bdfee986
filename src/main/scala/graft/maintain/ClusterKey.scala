package graft.maintain

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 3-D space-filling-curve key.
  * Children are pre-normalized Long coordinates in [0, 2^21); `doGenCode`
  * emits a static call so the whole rewrite pipeline stays inside
  * whole-stage codegen (a Scala UDF here would box every row of a 100 TB
  * rewrite). */
case class CurveKey3(first: Expression, second: Expression, third: Expression, hilbert: Boolean)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = if (hilbert) "hilbert_key" else "zorder_key"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val (x, y, z) = (a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])
    if (hilbert) SpaceCurve.hilbert3(x, y, z, SpaceCurve.BitsPerDim)
    else SpaceCurve.zOrder3(x, y, z, SpaceCurve.BitsPerDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (hilbert) "hilbert3" else "zOrder3"
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.maintain.SpaceCurve.$fn($a, $b, $c, ${SpaceCurve.BitsPerDim})")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Lexicographic-order-preserving string→coordinate (first 8 bytes, top
  * 21 bits); codegen'd static call like CurveKey3. */
case class StringPrefixBits(child: Expression, skip: Int, pmin: Long, pmax: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "string_prefix_bits"

  override protected def nullSafeEval(v: Any): Any =
    SpaceCurve.stringPrefixBits(v.asInstanceOf[UTF8String], skip, pmin, pmax, SpaceCurve.BitsPerDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.maintain.SpaceCurve.stringPrefixBits($c, $skip, ${pmin}L, ${pmax}L, ${SpaceCurve.BitsPerDim})")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClusterKey {
  import SpaceCurve.MaxCoord
  import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}

  /** Categorical coordinate: equal values collapse to one point (cluster
    * together); cross-value order is hash order, which is fine for a
    * categorical dimension. */
  def categoricalCoord(c: Column): Column = pmod(xxhash64(c), lit(MaxCoord + 1))

  /** Numeric coordinate range-normalized from [lo, hi] to [0, 2^21).
    * The scaling runs in DOUBLE space deliberately: long-space
    * (v-lo)*MaxCoord overflows for spans wider than ~2^42 (epoch-micros
    * over a year is 3e13; snowflake ids are 2^63-ish) — under Spark 4's
    * default ANSI mode that fails EVERY rewrite of such a table — and a
    * long-truncating input cast collapses sub-integer ranges (double
    * quality scores in [0,1]) to a single point. A double's 53 mantissa
    * bits are far more than the 21 the coordinate keeps. */
  def numericCoord(c: Column, lo: Double, hi: Double): Column = {
    val span = if (hi > lo) hi - lo else 1.0
    least(greatest((c.cast("double") - lit(lo)) * lit(MaxCoord.toDouble) / lit(span), lit(0.0)),
      lit(MaxCoord.toDouble)).cast("long")
  }

  /** Fitted encoding for one string column: skip the longest common
    * prefix, rescale the 7-byte window from [pmin, pmax] onto the full
    * coordinate range. */
  final case class StrEnc(skip: Int, pmin: Long, pmax: Long)
  object StrEnc {
    val identity: StrEnc = StrEnc(0, 0L, (1L << 56) - 1)
    def fromRange(mn: String, mx: String): StrEnc = {
      val skip = SpaceCurve.lcpLen(mn, mx)
      StrEnc(skip, SpaceCurve.stringPrefix7(mn, skip), SpaceCurve.stringPrefix7(mx, skip))
    }
  }

  /** Order-preserving range-normalized string coordinate. */
  def stringCoord(c: Column, e: StrEnc = StrEnc.identity): Column =
    ofExpr(StringPrefixBits(toExpr(c), e.skip, e.pmin, e.pmax))

  /** One fitted curve dimension: how a cluster column becomes a
    * [0, 2^21) coordinate. */
  sealed trait CoordSpec { def column: String; def toCoord: Column }
  /** Order-preserving fitted string window. */
  final case class StrCoord(column: String, enc: StrEnc) extends CoordSpec {
    def toCoord: Column = stringCoord(col(column), enc)
  }
  /** Range-normalized numeric (integral or floating manifest stats). */
  final case class NumCoord(column: String, lo: Double, hi: Double) extends CoordSpec {
    def toCoord: Column = numericCoord(col(column), lo, hi)
  }
  /** Hash coordinate — the type-agnostic fallback when no usable range
    * stats exist (boolean/binary column, exotic types): equal values
    * still cluster together, cross-value order is hash order. */
  final case class CatCoord(column: String) extends CoordSpec {
    def toCoord: Column = categoricalCoord(col(column))
  }

  /** The north rule's token-table cluster columns — the shape every bench
    * and gate token table uses; other `--cluster-by` specs fit the same
    * way, per column. */
  val TokenColumns: Seq[String] = Seq("source", "n_tok", "doc_id")

  /** Encoding parameters fitted from manifest stats — computed driver-side
    * for free before a rewrite; without fitting, domains with a shared
    * prefix ("doc-%012d") or narrow byte ranges (ASCII digits) collapse
    * into a sliver of the coordinate space and the curve degenerates. */
  final case class Fit(coords: Seq[CoordSpec])
  object Fit {
    val default: Fit = Fit(Seq(StrCoord("source", StrEnc.identity),
      NumCoord("n_tok", 64.0, 2048.0), StrCoord("doc_id", StrEnc.identity)))
  }

  /** Fit the curve encodings for the table's cluster columns from per-file
    * stats in the manifest. Works for ANY `--cluster-by` spec: string
    * stats → order-preserving fitted window, numeric stats →
    * range-normalized coordinate, no stats (empty table, unstatted type)
    * → the legacy token-shape defaults for the token columns and a hash
    * coordinate otherwise. */
  def fit(segments: Seq[graft.meta.SegmentMeta],
          columns: Seq[String] = TokenColumns): Fit = {
    import graft.meta.StatVal
    Fit(columns.map { c =>
      val mn = segments.flatMap(_.stats.get(c).flatMap(_.min))
      val mx = segments.flatMap(_.stats.get(c).flatMap(_.max))
      val (smn, smx) = (mn.collect { case StatVal.S(v) => v }, mx.collect { case StatVal.S(v) => v })
      val (lmn, lmx) = (mn.collect { case StatVal.L(v) => v }, mx.collect { case StatVal.L(v) => v })
      val (dmn, dmx) = (mn.collect { case StatVal.D(v) => v }, mx.collect { case StatVal.D(v) => v })
      if (smn.nonEmpty && smx.nonEmpty) StrCoord(c, StrEnc.fromRange(smn.min, smx.max))
      else if (lmn.nonEmpty && lmx.nonEmpty) NumCoord(c, lmn.min.toDouble, lmx.max.toDouble)
      else if (dmn.nonEmpty && dmx.nonEmpty) NumCoord(c, dmn.min, dmx.max)
      else if (columns == TokenColumns) c match {
        // legacy token-shape defaults: an empty TOKEN table lays out
        // exactly as before per-column fitting existed
        case "n_tok" => NumCoord(c, 64.0, 2048.0)
        case _ => StrCoord(c, StrEnc.identity)
      }
      // custom spec with no stats yet (first write into an empty table):
      // the type-agnostic hash coordinate — a name-keyed guess here
      // (StrCoord on a column that turns out LONG) would crash the first
      // batch's codegen with a UTF8String/Long mismatch
      else CatCoord(c)
    })
  }

  /** Convenience: fit against a table's own cluster spec and live set. */
  def fitFor(table: graft.table.TsTable): Fit =
    fit(table.state.liveSegments,
      table.clusterSpec.map(_.columns).getOrElse(TokenColumns))

  /** The clustering key — the spec'd columns packed into one LongType
    * routing column. For zorder and hilbert the first three columns are
    * the curve dimensions; fewer than three pad with a constant, columns
    * beyond the third are dropped from the key (standard Z-order practice
    * — leading dimensions dominate locality). For lexico the first three
    * coordinates are packed most significant first (c0 << 42 | c1 << 21 |
    * c2, NULL coordinates as 0): order-preserving, so a file straddles two
    * values only where their coordinates collide. String coordinates are
    * ORDER-PRESERVING (fitted prefix windows, not hashes) so per-file
    * min/max STRING stats line up with curve order and per-dimension scans
    * prune files after clustering. */
  def curveKey(curve: String, f: Fit = Fit.default): Column = {
    val cs = f.coords.take(3).map(_.toCoord).padTo(3, lit(0L))
    if (curve == "lexico")
      cs.map(coalesce(_, lit(0L))).reduce((hi, lo) => shiftleft(hi, SpaceCurve.BitsPerDim).bitwiseOR(lo))
    else ofExpr(CurveKey3(toExpr(cs(0)), toExpr(cs(1)), toExpr(cs(2)), hilbert = curve == "hilbert"))
  }

  /** Range-partition tie-break salt: hash of the FINEST (last) cluster
    * column, so heavy curve-key collisions (hot source × narrow numeric
    * dim) still spread across range buckets. A suffix of the sort order —
    * never perturbs curve locality. */
  def saltCol(f: Fit = Fit.default): Column =
    pmod(xxhash64(col(f.coords.last.column)), lit(1024L))
}
