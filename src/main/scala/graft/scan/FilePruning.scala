package graft.scan

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import graft.maintain.MergeInto
import graft.meta.SegmentMeta
import graft.table.KeyBloom

/** The one pruning entry, for scans ([[TsFileIndex.listFiles]]) and
  * maintenance (`TsTable.statsCandidates`) alike: the files a set of
  * pushed conjuncts may match, decided from metadata in two tiers.
  *
  *  1. Stats: [[StatsPruning.keep]] over each file's min/max.
  *  2. Bloom: when a conjunct is `key = literal` or `key IN (literals)` on
  *     the table's bloom column, [[KeyBloom.filterMayContain]] keeps only
  *     the stats survivors whose footer bloom may hold a key. Z-ordering
  *     interleaves the key's bits, so every file's [min, max] on the key
  *     spans the keyspace and the stats keep about a third of the files
  *     for a point lookup; the bloom keeps about the one that holds it.
  *     The reference prunes the same way before any file is opened
  *     (ts_table_provider.rs:240-295, pruning.rs:84-103).
  *
  * The bloom tier prunes only what is certain. It probes a non-null
  * literal of exactly the column's type, and only on a STRING column of
  * the default UTF8_BINARY collation, INT or BIGINT: a collated string
  * compares by more than its bytes, and a floating key's -0.0/0.0 and NaN
  * hash apart but compare equal. A file whose footer cannot answer stays
  * (see [[KeyBloom.mayContainAny]]). At most [[MergeInto.BloomKeyCap]] keys
  * probe, and the caller caps the files probed: past either cap the files
  * are kept. A scan caps them at [[BloomFileCap]] and leaves the rest to
  * Parquet's row-group bloom filter at execution; maintenance probes
  * every stats survivor, since it rewrites or DV-scans each file it keeps.
  */
object FilePruning {

  /** The most stats-kept files whose footers a scan's bloom tier reads.
    * It bounds scan planning: past it the executors open those footers
    * anyway, and Parquet tests the same blooms per row group. */
  val BloomFileCap = 1024

  /** The entries of `files` that may match every filter: stats, then
    * bloom on `bloomColumn` (physical name) when at most `bloomFileCap`
    * entries survive the stats. `seg` is an entry's segment and `path`
    * its resolved file path. */
  def prune[F](files: Seq[F], filters: Seq[Expression], bloomColumn: Option[String],
               bloomFileCap: Int, conf: => Configuration)
              (seg: F => SegmentMeta, path: F => String): Seq[F] = {
    val stats = StatsPruning.keep(filters)
    val kept = files.filter(f => stats(seg(f)))
    if (kept.isEmpty || kept.lengthCompare(bloomFileCap) > 0) kept
    else bloomColumn.flatMap(c => probeKeys(filters, c).map(c -> _)) match {
      case Some((c, keys)) => KeyBloom.filterMayContain(conf, kept.map(f => (path(f), f)), c, keys.toArray)
      case None => kept
    }
  }

  /** The keys a file's bloom on `column` must hold one of for the file to
    * match `filters`: those of the conjunct with the fewest. None when no
    * conjunct gives a key set the bloom can certainly answer. */
  private[graft] def probeKeys(filters: Seq[Expression], column: String): Option[Seq[Any]] =
    filters.flatMap(keysOf(_, column)).minByOption(_.size)

  private def keysOf(e: Expression, column: String): Option[Seq[Any]] = {
    def onKey(c: Expression): Boolean = c match {
      case a: AttributeReference => a.name == column && probed(a.dataType)
      case _                     => false
    }
    def typed(c: Expression, l: Expression) = l match {
      case l: Literal => l.dataType == c.dataType
      case _          => false
    }
    val keys = e match {
      case EqualTo(c, l: Literal) if onKey(c) && typed(c, l) => Seq(l.value)
      case EqualTo(l: Literal, c) if onKey(c) && typed(c, l) => Seq(l.value)
      case In(c, list) if onKey(c) && list.forall(typed(c, _)) => list.map(_.eval())
      // InSet holds Catalyst values of its input's type
      case InSet(c, set) if onKey(c) => set.toSeq
      case _ => Nil
    }
    // `k IN (a, NULL)` holds only where k = a, and a NULL literal alone never
    val present = keys.filter(_ != null).distinct
    Option.when(present.nonEmpty && present.size <= MergeInto.BloomKeyCap)(present)
  }

  /** A column type whose equality is its stored bytes, as its bloom hashes them. */
  private def probed(dt: DataType): Boolean = dt == StringType || dt == IntegerType || dt == LongType
}
