package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Footer-metadata key-membership tests against the Parquet column bloom
  * filters that segment writes enable on the table's merge key (see
  * TsTable.segmentWriteOptions).
  *
  * Why: after space-curve clustering every file's [min,max] on the identity
  * key spans nearly the whole keyspace (bit interleaving destroys key
  * locality), so range stats alone stop pruning MERGE candidates or point
  * lookups — the analog of the reference's scan pruning
  * (crates/timeseries-table-datafusion/src/ts_table_provider/pruning.rs:84-103).
  * One caller probes: the bloom tier of the one pruning entry
  * (`graft.scan.FilePruning`), which every scan and every predicate-scoped
  * maintenance verb plans through, a keyed MERGE or delete-by-key of few
  * keys included (its keys become `key IN (keys)`). The bloom
  * lives in the file footer region, so the test is O(footer) IO per file —
  * never a data scan.
  */
object KeyBloom {

  /** True iff `file` may contain ANY of `keys` in column `colName`,
    * answered from bloom filters only. Conservative: a missing column,
    * missing bloom, or a key the column's stored type cannot hold answers
    * true (sound — the file stays). Keys are matched per row group with
    * early exit on the first possible hit. */
  def mayContainAny(conf: Configuration, file: String, colName: String,
                    keys: Array[Any]): Boolean = {
    val reader = FooterStats.open(conf, file)
    try {
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == colName) match {
          case None => true // column absent → cannot rule out
          case Some(cm) =>
            val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cm)
            if (bloom == null) true // no bloom written → cannot rule out
            else {
              val stored = cm.getPrimitiveType.getPrimitiveTypeName
              keys.exists(k => hashOf(bloom, stored, k).forall(bloom.findHash))
            }
        }
      }
    } finally reader.close()
  }

  /** `k`'s hash as the writer hashed a value of the `stored` physical type.
    * The entry probes Catalyst values of a STRING, INT or BIGINT column: a
    * [[UTF8String]] hashes its UTF-8 bytes as Spark stored them. None when
    * `k` is not of that type — a BIGINT key over an INT32 file written
    * before the column was widened — so the file cannot be ruled out. */
  private def hashOf(bloom: BloomFilter, stored: PrimitiveTypeName, k: Any): Option[Long] =
    (k, stored) match {
      case (u: UTF8String, BINARY)        => Some(bloom.hash(Binary.fromConstantByteArray(u.getBytes)))
      case (l: java.lang.Long, INT64)     => Some(bloom.hash(l.longValue()))
      case (i: java.lang.Integer, INT32)  => Some(bloom.hash(i.intValue()))
      case _                              => None
    }

  /** Filter `files` (path, anything) down to those that may contain at
    * least one key. Footer reads go through the driver's metadata fan-out
    * ([[Fanout]]), the same plane as stats collection; at 10^5 candidate
    * files and object-store latency this is minutes of metadata IO vs hours
    * of data rewrite. */
  def filterMayContain[T](conf: Configuration, files: Seq[(String, T)], colName: String,
                          keys: Array[Any]): Seq[T] = {
    if (keys.isEmpty) return files.map(_._2)
    Fanout.map(files) { case (path, tag) =>
      // a failed footer read (transient IO, corrupt bloom page) must not
      // abort the MERGE or the scan — same conservative contract as every
      // other untestable case: keep the file
      try { if (mayContainAny(conf, path, colName, keys)) Some(tag) else None }
      catch { case _: Exception => Some(tag) }
    }.flatten
  }
}
