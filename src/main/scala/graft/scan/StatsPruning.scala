package graft.scan

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import graft.meta.{ColStats, SegmentMeta, StatVal}

/** Sound file-pruning by interval abstract interpretation of Catalyst
  * expressions over per-file column stats.
  *
  * Port of the reference's TimePred compiler + interval evaluator
  * (timeseries-table-datafusion/src/ts_table_provider/time_predicate.rs:15-68,
  * pruning.rs:6-103), generalized from the single time column to every
  * column with recorded min/max — the north rule's (source, n_tok, doc_id)
  * clustering stats prune the same way the reference's [ts_min, ts_max] do.
  *
  * Three-valued semantics, identical to the reference:
  *  - a file is dropped iff the predicate is AlwaysFalse over its stats
  *    (AlwaysTrue still keeps the file; execution re-filters — pruning is
  *    an optimization, never a correctness dependency);
  *  - in AND, Unknown is neutral (doesn't erase usable constraints);
  *  - in OR, Unknown poisons to Unknown;
  *  - NOT(Unknown) = Unknown.
  */
object StatsPruning {

  sealed trait Tri
  case object AlwaysTrue  extends Tri
  case object AlwaysFalse extends Tri
  case object Unknown     extends Tri

  private def and(a: Tri, b: Tri): Tri = (a, b) match {
    case (AlwaysFalse, _) | (_, AlwaysFalse) => AlwaysFalse
    case (AlwaysTrue, AlwaysTrue)            => AlwaysTrue
    case _                                   => Unknown
  }
  private def or(a: Tri, b: Tri): Tri = (a, b) match {
    case (AlwaysTrue, _) | (_, AlwaysTrue) => AlwaysTrue
    case (AlwaysFalse, AlwaysFalse)        => AlwaysFalse
    case _                                 => Unknown
  }
  private def not(a: Tri): Tri = a match {
    case AlwaysTrue  => AlwaysFalse
    case AlwaysFalse => AlwaysTrue
    case Unknown     => Unknown
  }

  private def litVal(l: Literal): Option[StatVal] = l.value match {
    case null              => None
    case u: UTF8String     => Some(StatVal.S(u.toString))
    case other             => StatVal.fromAny(other)
  }

  /** The stats column a comparison side names: a bare attribute only.
    * Casting can change comparison semantics, so a cast side is a
    * transform (`transformCmp`), never an unwrap. */
  private def columnOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _                     => None
  }

  /** A predicate prepared once for many files: everything that depends
    * only on the predicate is derived up front, so a file costs only the
    * comparisons of its own stats. */
  type Pruner = (Map[String, ColStats], Long) => Tri
  private val unknown: Pruner = (_, _) => Unknown

  /** Evaluate one Catalyst predicate against one file's stats. */
  def eval(expr: Expression, stats: Map[String, ColStats], rowCount: Long): Tri =
    prepare(expr)(stats, rowCount)

  /** `expr` prepared for many files. It is an optimized predicate, as
    * the scan and maintenance both take it: literal casts folded and
    * RuntimeReplaceable nodes (BETWEEN, to_date, …) replaced. */
  def prepare(expr: Expression): Pruner = expr match {
    case And(l, r) => val (a, b) = (prepare(l), prepare(r)); (s, n) => and(a(s, n), b(s, n))
    case Or(l, r)  => val (a, b) = (prepare(l), prepare(r)); (s, n) => or(a(s, n), b(s, n))
    case Not(c)    => val a = prepare(c); (s, n) => not(a(s, n))
    case Literal(true, _)  => (_, _) => AlwaysTrue
    case Literal(false, _) => (_, _) => AlwaysFalse

    // an empty list is AlwaysFalse
    case In(v, list) if list.forall(_.isInstanceOf[Literal]) =>
      anyOf(list.map(l => prepare(EqualTo(v, l))))
    case InSet(v, set) =>
      anyOf(set.toSeq.map(x => prepare(EqualTo(v, Literal.create(x, v.dataType)))))

    case IsNull(c) => columnOf(c).fold(unknown) { col => (stats, rows) =>
      stats.get(col) match {
        case Some(cs) if cs.nullCount == 0 && rows > 0 => AlwaysFalse
        case Some(cs) if rows > 0 && cs.nullCount >= rows => AlwaysTrue
        case _ => Unknown
      }
    }
    case IsNotNull(c) => prepare(Not(IsNull(c)))

    case b: BinaryComparison =>
      val (colE, litE, flipped) = (b.left, b.right) match {
        case (c, l: Literal) => (c, Some(l), false)
        case (l: Literal, c) => (c, Some(l), true)
        case _               => (b.left, None, false)
      }
      (columnOf(colE), litE.flatMap(litVal)) match {
        case (Some(col), Some(k)) => (stats, rows) =>
          stats.get(col).fold(Unknown: Tri)(evalCmp(b, flipped, _, rows, k))
        case _ => litE.fold(unknown)(transformCmp(b, flipped, colE, _))
      }

    case e: StartsWith => (columnOf(e.left), e.right) match {
      case (Some(col), Literal(p: UTF8String, _)) =>
        val prefix = p.toString
        val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (stats, _) => stats.get(col) match {
          case Some(ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), _)) =>
            // s.startsWith(prefix) ⇒ prefix ≤ s AND s's byte-prefix == the
            // prefix bytes. AlwaysFalse iff the whole [min,max] range
            // misses the prefix band — in the footer-stats UNSIGNED
            // UTF-8 byte order (UTF-16 compareTo disagrees for
            // supplementary chars). Byte-lexicographic truncation is
            // monotone, so mn's byte-prefix above the prefix bytes puts
            // every s ≥ mn above the band.
            val mnb = mn.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            def abovePrefixBand: Boolean = {
              val k = math.min(mnb.length, pb.length)
              var i = 0
              while (i < k) {
                val c = (mnb(i) & 0xff) - (pb(i) & 0xff)
                if (c != 0) return c > 0
                i += 1
              }
              false // equal through k: mn is inside or below the band
            }
            if (StatVal.utf8Cmp(mx, prefix) < 0) AlwaysFalse // all values below the band
            else if (abovePrefixBand) AlwaysFalse            // all values above it
            else Unknown
          case _ => Unknown
        }
      case _ => unknown
    }

    case _ => unknown // unrecognized predicate never prunes (sound)
  }

  private def anyOf(ps: Seq[Pruner]): Pruner = (s, n) => ps.foldLeft(AlwaysFalse: Tri)((t, p) => or(t, p(s, n)))

  // ---------------------------------------------------------------------
  // Transform pruning: `f(c) OP k`, where f is built only from
  // non-decreasing Catalyst nodes over one stats column c. Each node's
  // bounds are Catalyst's own eval of that node at its input's bounds, so
  // they are the values Spark computes at query time — the reference's
  // transform compiler (time_predicate.rs:554-604, 876-1106: to_date /
  // date_trunc / date_bin / to_unixtime / ts ± interval) without porting
  // any function's calendar arithmetic. Under a fixed-offset zone or on
  // NTZ values the bounds are exact; under an Olson zone a zoned node
  // evaluates at its input's bounds widened by a pad, and the result only
  // prunes one way (AlwaysTrue becomes Unknown). f's nodes are bound once
  // per predicate; a file only evaluates them at its endpoints.
  // ---------------------------------------------------------------------

  private val MicrosPerHour = 3600L * 1000000L
  private val MicrosPerDay  = 24L * MicrosPerHour
  /** Least pad for a zoned node: date_trunc converts instant → local →
    * instant, and an input 4 h earlier or later bounds it across a DST
    * change of up to 2 h (most 1 h, Antarctica/Troll 2 h). */
  private val DstPadMicros = 4L * MicrosPerHour
  /** Pad for calendar shifts (`ts + INTERVAL n DAYS/MONTHS`): a shift can
    * cross any offset change the zone makes, including dateline moves that
    * skip or repeat a whole day (Pacific/Apia 2011-12-30, Pacific/Kiritimati
    * 1994-12-31); no zone's offsets spread wider than 25.5 h (Pacific/Apia,
    * −11:26:56 … +14), bounding any change at 26 h. */
  private val ZoneShiftPadMicros = 26L * MicrosPerHour

  /** Pad for a zoned node (date_trunc, to_date, NTZ↔TIMESTAMP casts, the
    * epoch of an NTZ value) in zone `tz`; 0 for a fixed offset. A
    * local↔instant conversion moves a value by the zone's offset at that
    * value, so an input widened by the spread of every offset the zone has
    * used bounds each value in between, across gaps (local→instant drops by
    * a whole skipped day at Pacific/Apia 2011-12-30) and overlaps
    * (instant→local repeats 23 h at Pacific/Kwajalein 1969-10-01). */
  private def zonePad(tz: Option[String]): Long = tz.map(DateTimeUtils.getZoneId(_).getRules) match {
    case Some(r) if r.isFixedOffset => 0L
    case Some(r) =>
      val secs = (r.getTransitions.asScala.flatMap(t => Seq(t.getOffsetBefore, t.getOffsetAfter)) ++
        r.getTransitionRules.asScala.flatMap(t => Seq(t.getOffsetBefore, t.getOffsetAfter))).map(_.getTotalSeconds)
      if (secs.isEmpty) ZoneShiftPadMicros
      else math.max(DstPadMicros, (secs.max - secs.min) * 1000000L)
    case None => ZoneShiftPadMicros
  }

  /** One non-decreasing node over its column-dependent input, with the pad
    * its session zone needs (0 = exact). A month shift is non-decreasing
    * only across whole days: end-of-month clamping keeps the time of day,
    * so `ts + INTERVAL 1 MONTH` maps Jan 28 23:00 past Jan 29 01:00 (both
    * land on Feb 28); it evaluates at its input's bounds rounded out to
    * whole days (`wholeDays`). */
  private final case class Step(input: Expression, pad: Long, wholeDays: Boolean = false)

  /** A file's bounds for a transform, as Catalyst values of its type. */
  private final case class Bounds(lo: Any, hi: Any, exact: Boolean, nulls: Long)

  private def positive(l: Literal): Boolean = l.value match {
    case n: java.lang.Number => n.doubleValue > 0
    case _                   => false
  }

  /** `window()`'s bin core `t − floorMod(t − start, slide)`, as
    * TimeWindowing generates it (floorMod is a CASE WHEN over %): its
    * input t. The only shape matched as a whole. */
  private def windowCore(e: Expression): Option[Expression] = e match {
    case Subtract(t, CaseWhen(Seq((LessThan(r, Literal(0L, LongType)),
          Add(r2, Literal(s1: Long, LongType), _))), Some(r3)), _) =>
      r match {
        case Remainder(Subtract(t2, Literal(_: Long, LongType), _), Literal(slide: Long, LongType), _)
            if slide > 0 && slide == s1 && t2.semanticEquals(t) &&
               r2.semanticEquals(r) && r3.semanticEquals(r) => Some(t)
        case _ => None
      }
    case _ => None
  }

  /** `e` as a non-decreasing node over one column-dependent input; None
    * for any other node. */
  private def step(e: Expression): Option[Step] = {
    def exact(in: Expression) = Some(Step(in, 0L))
    def zoned(in: Expression, tz: Option[String]) = Some(Step(in, zonePad(tz)))
    // TIMESTAMP → epoch is zone-free; NTZ → epoch reads local time
    def epoch(in: Expression, tz: Option[String]) = in.dataType match {
      case TimestampType    => exact(in)
      case TimestampNTZType => zoned(in, tz)
      case _                => None
    }
    // Spark adds whole days and months as calendar units in the zone
    // (zone-free on NTZ); only a sub-day shift is a fixed duration
    def shift(in: Expression, tz: Option[String], months: Boolean) = Some(Step(in,
      if (in.dataType == TimestampType && zonePad(tz) > 0L) ZoneShiftPadMicros else 0L, months))
    e match {
      case KnownNullable(c)                    => exact(c)
      case PreciseTimestampConversion(c, _, _) => exact(c)
      case Floor(c)                            => exact(c)
      case UnixMicros(c)                       => exact(c)
      case UnixMillis(c)                       => exact(c)
      case UnixSeconds(c)                      => exact(c)
      case UnixTimestamp(c, _, tz, _)          => epoch(c, tz)
      case ToUnixTimestamp(c, _, tz, _)        => epoch(c, tz)
      case Cast(c, to, tz, _) => (c.dataType, to) match {
        case (ByteType | ShortType | IntegerType | LongType, LongType | DoubleType) |
             (TimestampNTZType, DateType) => exact(c)
        case (TimestampType, DateType | TimestampNTZType) | (TimestampNTZType, TimestampType) =>
          zoned(c, tz)
        case _ => None
      }
      case IntegralDivide(c, l: Literal, _) if positive(l) => exact(c)
      case Divide(c, l: Literal, _) if positive(l)         => exact(c)
      case Add(c, _: Literal, _)                           => exact(c)
      case Add(_: Literal, c, _)                           => exact(c)
      case Subtract(c, _: Literal, _)                      => exact(c)
      case TruncTimestamp(_: Literal, c, tz)               => zoned(c, tz)
      case graft.functions.DateBin(l: Literal, c, _: Literal) if positive(l) => exact(c)
      case TimestampAddInterval(c, Literal(iv, _), tz) => iv match {
        case ci: CalendarInterval if ci.months == 0 && ci.days == 0 => exact(c)
        case ci: CalendarInterval => shift(c, tz, ci.months != 0)
        case d: java.lang.Long if d.longValue / MicrosPerDay == 0L  => exact(c)
        case _: java.lang.Long => shift(c, tz, months = false)
        case _ => None
      }
      case TimestampAddYMInterval(c, _: Literal, tz) => shift(c, tz, months = true)
      case _ => windowCore(e).flatMap(exact)
    }
  }

  /** A stats value as the Catalyst value of a column of type `dt`. */
  private def catalystValue(v: StatVal, dt: DataType): Option[Any] = (v, dt) match {
    case (StatVal.L(x), LongType | TimestampType | TimestampNTZType) => Some(x)
    case (StatVal.L(x), IntegerType | DateType)                      => Some(x.toInt)
    case (StatVal.D(x), DoubleType)                                  => Some(x)
    case _                                                           => None
  }

  /** Catalyst's eval of `e` on a row holding `v`; None when it throws (an
    * ANSI overflow, an out-of-range timestamp) or is null. */
  private def at(e: Expression, v: Any): Option[Any] =
    try Option(e.eval(InternalRow(v))) catch { case NonFatal(_) => None }

  /** Catalyst's eval of `e` with its input `in` bound to `v`. */
  private def evalAt(e: Expression, in: Expression, v: Any): Option[Any] =
    at(e.transformDown { case x if x.semanticEquals(in) => Literal(v, in.dataType) }, v)

  private def ordered(lo: Any, hi: Any): Boolean =
    (StatVal.fromAny(lo), StatVal.fromAny(hi)) match {
      case (Some(a), Some(b)) => StatVal.cmp(a, b).exists(_ <= 0)
      case _                  => false
    }

  /** Step `s` of node `e`, with its input bound to row slot 0 once per
    * predicate: a file's input bounds map to the node's bounds. */
  private final class Node(e: Expression, s: Step) {
    private def bind(x: Expression) = x.transformDown {
      case y if y.semanticEquals(s.input) => BoundReference(0, s.input.dataType, nullable = true)
    }
    private val node = bind(e)
    // a month shift's input rounds out to the start of its local day and
    // to just before the start of the next
    private val days = if (!s.wholeDays) None else {
      val (dt, tz) = (s.input.dataType, e.asInstanceOf[TimeZoneAwareExpression].timeZoneId)
      val day = Cast(s.input, DateType, tz)
      Some((bind(Cast(day, dt, tz)), bind(Cast(DateAdd(day, Literal(1)), dt, tz))))
    }

    def apply(b: Bounds): Option[Bounds] =
      for { (loIn, hiIn) <- points(b)
            lo <- at(node, loIn)
            hi <- at(node, hiIn) if ordered(lo, hi)
      } yield Bounds(lo, hi, b.exact && s.pad == 0L, b.nulls)

    /** Where the node evaluates: its input's bounds widened by the pad,
      * then rounded out to whole days for a month shift. */
    private def points(b: Bounds): Option[(Any, Any)] =
      try {
        val (lo, hi) =
          if (s.pad == 0L) (b.lo, b.hi)
          else (Math.subtractExact(b.lo.asInstanceOf[Long], s.pad), Math.addExact(b.hi.asInstanceOf[Long], s.pad))
        days match {
          case None => Some((lo, hi))
          case Some((start, next)) =>
            for (l <- at(start, lo); h <- at(next, hi)) yield (l, h.asInstanceOf[Long] - 1)
        }
      } catch { case NonFatal(_) => None }
  }

  /** f's stats column and its nodes from the column up; None when some
    * node is not non-decreasing. */
  private def chain(f: Expression): Option[(AttributeReference, List[Node])] = f match {
    case a: AttributeReference => Some((a, Nil))
    case _ => for { s <- step(f); (a, ns) <- chain(s.input) } yield (a, ns :+ new Node(f, s))
  }

  /** `f = k` can never hold: peeling identity wrappers and literal shifts
    * off f (moving k with them) reaches an exact bin — date_trunc,
    * date_bin or window()'s core — that moves k, i.e. bin(k) ≠ k. */
  private def offGrid(f: Expression, k: Any): Boolean = f match {
    case KnownNullable(c)                    => offGrid(c, k)
    case PreciseTimestampConversion(c, _, _) => offGrid(c, k)
    case Subtract(c, d: Literal, _) => evalAt(Add(c, d), c, k).exists(offGrid(c, _))
    case Add(c, d: Literal, _)      => evalAt(Subtract(c, d), c, k).exists(offGrid(c, _))
    case _: TruncTimestamp | _: graft.functions.DateBin => binMoves(f, k)
    case _ => windowCore(f).isDefined && binMoves(f, k)
  }
  private def binMoves(bin: Expression, k: Any): Boolean =
    step(bin).exists(s => s.pad == 0L && evalAt(bin, s.input, k).exists(_ != k))

  /** `f OP k` through f's bounds over each file's stats. */
  private def transformCmp(b: BinaryComparison, flipped: Boolean, f: Expression, k: Literal): Pruner =
    (litVal(k), chain(f)) match {
      case (Some(_), Some(_)) if b.isInstanceOf[EqualTo] && offGrid(f, k.value) => (_, _) => AlwaysFalse
      case (Some(kv), Some((col, nodes))) => (stats, rows) =>
        val fb = for { cs <- stats.get(col.name)
                       lo <- cs.min.flatMap(catalystValue(_, col.dataType))
                       hi <- cs.max.flatMap(catalystValue(_, col.dataType))
                       fb <- nodes.foldLeft(Option(Bounds(lo, hi, exact = true, cs.nullCount)))(
                         (acc, n) => acc.flatMap(n.apply)) } yield fb
        fb.fold(Unknown: Tri) { fb =>
          val t = evalCmp(b, flipped,
            ColStats(StatVal.fromAny(fb.lo), StatVal.fromAny(fb.hi), fb.nulls), rows, kv)
          if (t == AlwaysTrue && !fb.exact) Unknown else t
        }
      case _ => unknown
    }

  /** reference pruning.rs:6-71 table, generalized. cMin/cMax = cmp(stat, k). */
  private def evalCmp(b: BinaryComparison, flipped: Boolean, cs: ColStats,
                      rows: Long, k: StatVal): Tri = {
    val (mnO, mxO) = (cs.min, cs.max)
    (mnO, mxO) match {
      case (Some(mn), Some(mx)) =>
        val cMinO = StatVal.cmp(mn, k); val cMaxO = StatVal.cmp(mx, k)
        if (cMinO.isEmpty || cMaxO.isEmpty) return Unknown
        val cMin = cMinO.get; val cMax = cMaxO.get
        if (rows > 0 && cs.nullCount >= rows) return AlwaysFalse // all null
        val t = b match {
          case _: LessThan =>
            if (flipped) gtTri(cMin, cMax)          // k < col ≡ col > k
            else ltTri(cMin, cMax)
          case _: LessThanOrEqual =>
            if (flipped) geTri(cMin, cMax) else leTri(cMin, cMax)
          case _: GreaterThan =>
            if (flipped) ltTri(cMin, cMax) else gtTri(cMin, cMax)
          case _: GreaterThanOrEqual =>
            if (flipped) leTri(cMin, cMax) else geTri(cMin, cMax)
          case _: EqualTo =>
            if (cMax < 0 || cMin > 0) AlwaysFalse
            else if (cMin == 0 && cMax == 0) AlwaysTrue // degenerate single-point file
            else Unknown
          case _: EqualNullSafe =>
            if (cMax < 0 || cMin > 0) { if (cs.nullCount > 0) Unknown else AlwaysFalse }
            else Unknown
          case _ => Unknown
        }
        // nulls make "always true" unsound for non-null-safe comparisons
        if (t == AlwaysTrue && cs.nullCount > 0) Unknown else t
      case _ => Unknown
    }
  }

  // col < k: AlwaysTrue iff max < k; AlwaysFalse iff min >= k
  private def ltTri(cMin: Int, cMax: Int): Tri =
    if (cMax < 0) AlwaysTrue else if (cMin >= 0) AlwaysFalse else Unknown
  private def leTri(cMin: Int, cMax: Int): Tri =
    if (cMax <= 0) AlwaysTrue else if (cMin > 0) AlwaysFalse else Unknown
  private def gtTri(cMin: Int, cMax: Int): Tri =
    if (cMin > 0) AlwaysTrue else if (cMax <= 0) AlwaysFalse else Unknown
  private def geTri(cMin: Int, cMax: Int): Tri =
    if (cMin >= 0) AlwaysTrue else if (cMax < 0) AlwaysFalse else Unknown

  /** The one keep rule, for scans and maintenance alike (reference
    * prune_segments_by_time, ts_table_provider.rs:183-214): each filter is
    * prepared once, and a segment stays unless some filter is AlwaysFalse
    * over its stats. */
  def keep(filters: Seq[Expression]): SegmentMeta => Boolean = {
    val ps = filters.map(prepare)
    seg => ps.forall(_(seg.stats, seg.rowCount) != AlwaysFalse)
  }

  /** The segments [[keep]] keeps. */
  def pruneSegments(segments: Seq[SegmentMeta], filters: Seq[Expression]): Seq[SegmentMeta] =
    segments.filter(keep(filters))
}
