package graft.scan

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.meta.{PathNorm, SegmentMeta}

/** A manifest-backed [[FileIndex]]: the table's transaction-log snapshot is
  * the source of truth for which files exist (never a directory listing —
  * at 100 TB a recursive listing is the scalability killer the log format
  * exists to avoid), and the one pruning entry ([[FilePruning]]) drops
  * files before Spark plans the scan: per-file min/max stats, then, for a
  * key-equality or small key-set filter on `bloomColumn`, each surviving
  * file's footer bloom.
  *
  * Each listed file carries the per-file facts its rows need as `_metadata`
  * constants ([[GraftParquetFileFormat]] declares them): its base row id,
  * its default row commit version and its deletion-vector sidecar. The
  * plan ships none of them; Spark hands each file's values to the task
  * that scans it.
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
  import TsFileIndex._

  private val files: Seq[(SegmentMeta, FileStatusWithMetadata)] = segments.map { seg =>
    // a shallow clone's external references are absolute — scan in place
    val p = new HPath(PathNorm.resolve(tableRoot.toString, seg.path))
    val size = seg.fileSize.getOrElse {
      // fall back to a stat like the reference (ts_table_provider.rs:153-167)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }
    seg -> FileStatusWithMetadata(new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L, p), Map(
      BaseRowId -> seg.baseRowId.getOrElse(null),
      RowCommitVersion -> seg.rowVersion.getOrElse(null),
      DvPath -> seg.dvPath.map(PathNorm.resolve(tableRoot.toString, _)).orNull))
  }

  override def rootPaths: Seq[HPath] = Seq(tableRoot)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = FilePruning.prune(files, dataFilters, bloomColumn, FilePruning.BloomFileCap,
      spark.sparkContext.hadoopConfiguration)(_._1, _._2.getPath.toString)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2)))
  }

  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

object TsFileIndex {
  /** The `_metadata` constants each listed file carries: its base row id
    * and default row commit version (null before row tracking), and the
    * path of its deletion-vector sidecar, resolved against the table root
    * like the file's own (null for a clean file). */
  val BaseRowId = "base_row_id"
  val RowCommitVersion = "row_commit_version"
  val DvPath = "dv_path"
}

/** Parquet whose `_metadata` also holds the per-file constants
  * [[TsFileIndex]] lists, beside Spark's own `file_path`, `row_index` and
  * the rest; the scan itself is Parquet's, vectorized reader included. */
final class GraftParquetFileFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] = super.metadataSchemaFields ++ Seq(
    FileSourceConstantMetadataStructField(TsFileIndex.BaseRowId, LongType),
    FileSourceConstantMetadataStructField(TsFileIndex.RowCommitVersion, LongType),
    FileSourceConstantMetadataStructField(TsFileIndex.DvPath, StringType))
}
