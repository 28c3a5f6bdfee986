package graft.scan

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import graft.meta.SegmentMeta

/** A manifest-backed [[FileIndex]]: the table's transaction-log snapshot is
  * the source of truth for which files exist (never a directory listing —
  * at 100 TB a recursive listing is the scalability killer the log format
  * exists to avoid), and the one pruning entry ([[FilePruning]]) drops
  * files before Spark plans the scan: per-file min/max stats, then, for a
  * key-equality or small key-set filter on `bloomColumn`, each surviving
  * file's footer bloom.
  *
  * This is the Spark-native analog of the reference's
  * `TsTableProvider::scan` file registration + `prune_segments_by_time`
  * (ts_table_provider.rs:183-214, 240-295). Plugging in here (instead of a
  * DSv2 source) keeps Spark's whole native Parquet path — vectorized
  * reader, row-group/page pruning from pushed filters, whole-stage codegen,
  * row-group splitting across tasks — while the `listFiles` hook applies
  * our sound stats and bloom pruning. Filters remain "inexact": Spark re-applies
  * them, matching the reference's Inexact pushdown (ts_table_provider.rs:231-238).
  */
final class TsFileIndex(
    spark: SparkSession,
    val tableRoot: HPath,
    segments: Seq[SegmentMeta],
    dataSchema: StructType,
    bloomColumn: Option[String]) extends FileIndex {

  private val files: Seq[(SegmentMeta, FileStatus)] = segments.map { seg =>
    // a shallow clone's external references are absolute — scan in place
    val p = new HPath(graft.meta.PathNorm.resolve(tableRoot.toString, seg.path))
    val size = seg.fileSize.getOrElse {
      // fall back to a stat like the reference (ts_table_provider.rs:153-167)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }
    seg -> new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L, p)
  }

  override def rootPaths: Seq[HPath] = Seq(tableRoot)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = FilePruning.prune(files, dataFilters, bloomColumn, FilePruning.BloomFileCap,
      spark.sparkContext.hadoopConfiguration)(_._1, _._2.getPath.toString)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }

  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
  override def partitionSchema: StructType = new StructType()
}
