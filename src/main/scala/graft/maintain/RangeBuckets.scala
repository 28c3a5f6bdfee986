package graft.maintain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The one clustered writer, and the range routing behind it.
  *
  * Every clustered write — a compaction bin, a copy-on-write MERGE's
  * survivors ∪ incoming rows, a merge-on-read upsert or UPDATE image —
  * lays out its files through [[cluster]]. The frame is ranged on its own
  * rows (skew-aware partitioning in the sense of FP-Hadoop, PAPERS.md):
  *
  *  1. a sample of the frame, projected to (routing key, salt) so column
  *     pruning skips the payload, is collected once driver-side and cut
  *     into equi-depth boundaries ([[boundsFromSample]]); because the
  *     sample is drawn from the rows that land in the output, new keys
  *     beyond the old files' range get buckets of their own;
  *  2. a codegen'd binary search over those boundary literals
  *     ([[RangeBucketLabel]]) feeds a plain hash `repartition(n, lbl)`,
  *     whose label values ([[labelsFor]]) INVERT Spark's
  *     `HashPartitioning` (pmod(murmur3(label), n) == range index), so
  *     range r lands exactly in shuffle partition r with no range
  *     exchange — whose own sampler would run the frame a second time.
  *
  * The frame's payload is read once; each output file holds a contiguous
  * (key, salt) range, nulls low-ordered.
  */
object RangeBuckets {

  /** `df` laid out on `curve` in up to `files` files; `rows` estimates
    * its row count (it sets the sample fraction). zorder and hilbert
    * route and sort on (curve key, salt); lexico routes on its packed
    * coordinates ([[ClusterKey.curveKey]]) and sorts on the cluster
    * columns themselves; any other curve is a plain `repartition(files)`.
    * An empty sample (or `files` ≤ 1) gives no boundaries: one sorted
    * file. */
  def cluster(df: DataFrame, curve: String, fit: ClusterKey.Fit, files: Int,
              rows: Long): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    val inFileOrder = curve match {
      case "zorder" | "hilbert" => Seq(col("__ckey"), col("__salt"))
      case "lexico" => fit.coords.map(c => col(c.column))
      case _ => return df.repartition(files)
    }
    val keyed = df
      .withColumn("__ckey", coalesce(ClusterKey.curveKey(curve, fit), lit(Long.MinValue)))
      .withColumn("__salt", coalesce(ClusterKey.saltCol(fit), lit(0L)))
    val fraction = math.min(1.0, math.min(files * 1000L, 1000000L).toDouble / math.max(rows, 1L))
    val sample =
      if (files <= 1) Array.empty[(Long, Long)]
      else keyed.select(col("__ckey"), col("__salt"))
        .sample(withReplacement = false, fraction, seed = 42L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (bk, bs) = boundsFromSample(sample, files)
    keyed.withColumn("__lbl", ofExpr(RangeBucketLabel(toExpr(col("__ckey")),
        toExpr(col("__salt")), bk.toSeq, bs.toSeq, labelsFor(bk.length + 1).toSeq)))
      .repartition(bk.length + 1, col("__lbl"))
      .sortWithinPartitions(inFileOrder: _*)
      .drop("__ckey", "__salt", "__lbl")
  }

  /** labels(r) routes range r to shuffle partition r under Spark's
    * `HashPartitioning(Seq(lbl: Int), n)`: the label L(r) is the smallest
    * non-negative Int with pmod(murmur3_42(L), n) == r, found by direct
    * evaluation of the SAME Catalyst expression HashPartitioning uses —
    * no reimplementation to drift. Expected search cost O(n ln n). */
  def labelsFor(n: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    require(n >= 1)
    val out = Array.fill(n)(-1)
    var found = 0
    var k = 0
    while (found < n) {
      val pid = Pmod(new Murmur3Hash(Seq(Literal(k))), Literal(n)).eval(null).asInstanceOf[Int]
      if (out(pid) < 0) { out(pid) = k; found += 1 }
      k += 1
    }
    out
  }

  /** n−1 lexicographic (key, salt) quantile boundaries from a collected
    * sample (equi-depth). Duplicate adjacent boundaries are legal — they
    * just leave a bucket empty, and empty output part files are dropped
    * by the swap. */
  def boundsFromSample(sample: Array[(Long, Long)], n: Int): (Array[Long], Array[Long]) = {
    if (n <= 1 || sample.isEmpty) return (Array.empty, Array.empty)
    val s = sample.sorted
    val bk = new Array[Long](n - 1)
    val bs = new Array[Long](n - 1)
    var i = 0
    while (i < n - 1) {
      val idx = math.min((((i + 1).toLong * s.length) / n).toInt, s.length - 1)
      bk(i) = s(idx)._1
      bs(i) = s(idx)._2
      i += 1
    }
    (bk, bs)
  }

  /** r = count of boundaries strictly below (k, s) lexicographically
    * (binary search); returns labels(r). Hot boundary keys split across
    * buckets by the salt component, exactly like the (key, salt) range
    * exchange did. */
  def bucketLabel(k: Long, s: Long, bk: Array[Long], bs: Array[Long],
                  labels: Array[Int]): Int = {
    var lo = 0
    var hi = bk.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bk(mid) < k || (bk(mid) == k && bs(mid) < s)) lo = mid + 1 else hi = mid
    }
    labels(lo)
  }
}

/** Codegen'd boundary binary search + partition-label lookup; the
  * boundary/label arrays ride into generated code as reference objects
  * (the [[graft.functions.NearestCentroids]] pattern). Seq fields keep
  * expression equality structural. */
case class RangeBucketLabel(key: Expression, salt: Expression,
                            boundsK: Seq[Long], boundsS: Seq[Long], labels: Seq[Int])
    extends BinaryExpression {
  require(boundsK.length == boundsS.length && labels.length == boundsK.length + 1)

  @transient private lazy val bkArr: Array[Long] = boundsK.toArray
  @transient private lazy val bsArr: Array[Long] = boundsS.toArray
  @transient private lazy val lblArr: Array[Int] = labels.toArray

  override def left: Expression = key
  override def right: Expression = salt
  override def dataType: DataType = IntegerType
  override def prettyName: String = "range_bucket_label"

  override protected def nullSafeEval(k: Any, s: Any): Any =
    RangeBuckets.bucketLabel(k.asInstanceOf[Long], s.asInstanceOf[Long], bkArr, bsArr, lblArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("rangeBoundsK", bkArr, "long[]")
    val bs = ctx.addReferenceObj("rangeBoundsS", bsArr, "long[]")
    val lb = ctx.addReferenceObj("rangeLabels", lblArr, "int[]")
    defineCodeGen(ctx, ev, (k, s) =>
      s"graft.maintain.RangeBuckets.bucketLabel($k, $s, $bk, $bs, $lb)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(key = l, salt = r)
}
