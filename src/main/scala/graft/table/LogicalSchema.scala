package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** Explicit logical-schema validation for FOREIGN parquet files ingested
  * via `appendParquetFile` — the reference's schema-convert rejections
  * (timeseries-table-core/src/metadata/logical_schema.rs:148-274: Int96,
  * out-of-range decimals, nullable map keys). A file Spark would read
  * with surprising semantics (deprecated INT96 timestamps carry no
  * min/max statistics, so the column could never prune and its values
  * round through legacy nanos), fail on obscurely (decimal precision
  * beyond Spark's 38), or mis-shape (nullable map keys) is rejected up
  * front with the column named. Files the engine itself wrote never hit
  * these — Spark writes none of them — so this runs only on the foreign
  * ingest path.
  */
object LogicalSchema {

  /** Walk the parquet footer schema of `file` and throw
    * [[SchemaMismatchException]] on the first unsupported logical type. */
  def validateFooterSchema(conf: Configuration, file: String): Unit = {
    val reader = FooterStats.open(conf, file)
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    schema.getFields.asScala.foreach(validate(_, Nil))
  }

  private def validate(t: Type, path: List[String]): Unit = {
    val p = (path :+ t.getName).mkString(".")
    if (t.isPrimitive) {
      val prim = t.asPrimitiveType()
      if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT96)
        throw SchemaMismatchException(
          s"column '$p' uses deprecated INT96 timestamps — unsupported " +
            "(logical_schema.rs:195-201); rewrite the file with TIMESTAMP_MICROS")
      prim.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
            if d.getPrecision > 38 || d.getPrecision < 1 ||
               d.getScale < 0 || d.getScale > d.getPrecision =>
          throw SchemaMismatchException(
            s"column '$p' has decimal(${d.getPrecision},${d.getScale}) outside the " +
              "supported range (1 <= precision <= 38, 0 <= scale <= precision)")
        case _ => ()
      }
    } else {
      val g = t.asGroupType()
      g.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
          // MAP = repeated key_value group; the key field must be REQUIRED
          for {
            kv <- g.getFields.asScala.headOption if !kv.isPrimitive
            key <- kv.asGroupType().getFields.asScala.find(_.getName == "key")
            if key.getRepetition == Type.Repetition.OPTIONAL
          } throw SchemaMismatchException(s"column '$p' map keys must be non-null")
        case _ => ()
      }
      g.getFields.asScala.foreach(validate(_, path :+ t.getName))
    }
  }
}
