package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._
import graft.meta.{ColStats, StatVal}

/** Metadata-only per-file stats from Parquet footers — the analog of the
  * reference's row-group-stats fast path
  * (formats/parquet/segment_meta.rs:52-100): no data scan, O(row groups)
  * driver work per file. At 100 TB / 1000 executors this is what keeps
  * append and manifest maintenance off the data plane: stats for a 1 GB
  * file cost one footer read.
  *
  * Bails to None for a column on any missing/untyped row-group stat,
  * mirroring the reference's conservative fallback. Top-level primitive
  * columns only — nested columns (e.g. tokens) carry no pruning stats.
  */
object FooterStats {

  /** `sparkSchemaJson`: the StructType JSON Spark embeds in the footer
    * key-value metadata of every file IT writes — the exact logical schema
    * `spark.read.parquet(...).schema` would return for the staging dir,
    * available for free from the footer this reader already opened.
    * Absent for foreign (non-Spark) parquet files. */
  final case class FileStats(rowCount: Long, fileSize: Long, stats: Map[String, ColStats],
                             sparkSchemaJson: Option[String] = None)

  /** The footer metadata key Spark writes its schema under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Footer stats for many files, read on the driver's metadata fan-out
    * ([[Fanout]]): each read is an independent footer open (network/disk
    * latency bound), so a 200-small-file append overlaps its round trips
    * instead of paying 200 sequential ones. Result order matches `files`. */
  def readAll(conf: Configuration, files: Seq[String]): Seq[(String, FileStats)] =
    Fanout.map(files)(f => f -> read(conf, f))

  /** The one way the engine opens a Parquet footer; the caller closes the
    * reader. The read options come from the caller's already-loaded Hadoop
    * conf: `ParquetFileReader.open(in)` alone builds a fresh
    * `Configuration` per file, parsing Hadoop's default resources again. */
  def open(conf: Configuration, file: String): ParquetFileReader =
    open(HadoopInputFile.fromPath(new HPath(file), conf))

  private def open(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())

  def read(conf: Configuration, file: String): FileStats = {
    val in = HadoopInputFile.fromPath(new HPath(file), conf)
    val reader = open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val schema = footer.getFileMetaData.getSchema
      val rowCount = blocks.map(_.getRowCount).sum
      val fileSize = in.getLength

      // top-level primitive columns: path depth 1
      val primitiveCols: Map[String, org.apache.parquet.schema.PrimitiveType] =
        schema.getFields.asScala.filter(_.isPrimitive)
          .map(f => f.getName -> f.asPrimitiveType()).toMap

      val perCol = scala.collection.mutable.Map.empty[String, (Option[StatVal], Option[StatVal], Long, Boolean)]
      for (block <- blocks; col <- block.getColumns.asScala) {
        val path = col.getPath.toDotString
        primitiveCols.get(path).foreach { prim =>
          val st = col.getStatistics
          val prev = perCol.getOrElse(path, (None, None, 0L, true))
          if (st == null || st.isEmpty || (!st.hasNonNullValue && st.getNumNulls < block.getRowCount)) {
            // stats missing for this row group → poison the column (bail like the reference)
            perCol(path) = (None, None, prev._3 + (if (st != null) st.getNumNulls else 0L), false)
          } else if (!st.hasNonNullValue) {
            // all-null row group (numNulls == rowCount): contributes only
            // its null count; decoding min/max would NPE on binary columns
            // and yield a spurious 0 on numeric ones
            if (prev._4) perCol(path) = (prev._1, prev._2, prev._3 + st.getNumNulls, true)
          } else if (prev._4) {
            val mn = decode(prim, st.genericGetMin.asInstanceOf[AnyRef])
            val mx = decode(prim, st.genericGetMax.asInstanceOf[AnyRef])
            (mn, mx) match {
              case (Some(a), Some(b)) =>
                val newMin: Option[StatVal] = prev._1 match {
                  case Some(p) => Some(minOf(p, a)); case None => Some(a)
                }
                val newMax: Option[StatVal] = prev._2 match {
                  case Some(p) => Some(maxOf(p, b)); case None => Some(b)
                }
                perCol(path) = (newMin, newMax, prev._3 + st.getNumNulls, true)
              case _ =>
                perCol(path) = (None, None, prev._3 + st.getNumNulls, false)
            }
          }
        }
      }
      val stats = perCol.collect {
        case (col, (mn, mx, nulls, true)) => col -> ColStats(mn, mx, nulls)
      }.toMap
      val sparkSchema = Option(
        footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      FileStats(rowCount, fileSize, stats, sparkSchema)
    } finally reader.close()
  }

  private def minOf(a: StatVal, b: StatVal): StatVal =
    StatVal.cmp(a, b).fold(a)(c => if (c <= 0) a else b)
  private def maxOf(a: StatVal, b: StatVal): StatVal =
    StatVal.cmp(a, b).fold(a)(c => if (c >= 0) a else b)

  /** Decode a parquet row-group stat into our typed StatVal. Timestamps are
    * kept as raw INT64 micros/millis normalized to micros (we write
    * TIMESTAMP_MICROS; INT96 is rejected like the reference rejects Int96,
    * logical_schema.rs:173-177). */
  private def decode(prim: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[StatVal] = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => Some(StatVal.L(v.asInstanceOf[Number].longValue()))
      case PrimitiveTypeName.INT64 =>
        val raw = v.asInstanceOf[Number].longValue()
        logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(StatVal.L(raw * 1000L))
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(StatVal.L(raw))
              case LogicalTypeAnnotation.TimeUnit.NANOS  => Some(StatVal.L(raw / 1000L))
              case _ => None
            }
          case _ => Some(StatVal.L(raw))
        }
      case PrimitiveTypeName.FLOAT  => Some(StatVal.D(v.asInstanceOf[Number].doubleValue()))
      case PrimitiveTypeName.DOUBLE => Some(StatVal.D(v.asInstanceOf[Number].doubleValue()))
      case PrimitiveTypeName.BOOLEAN => Some(StatVal.B(v.asInstanceOf[java.lang.Boolean]))
      case PrimitiveTypeName.BINARY if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(StatVal.S(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
      case PrimitiveTypeName.INT96 => None
      case _ => None
    }
  }
}
