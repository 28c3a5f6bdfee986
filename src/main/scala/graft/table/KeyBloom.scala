package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.io.api.Binary
import scala.jdk.CollectionConverters._

/** Footer-metadata key-membership tests against the Parquet column bloom
  * filters that segment writes enable on the table's merge key (see
  * TsTable.segmentWriteOptions).
  *
  * Why: after space-curve clustering every file's [min,max] on the identity
  * key spans nearly the whole keyspace (bit interleaving destroys key
  * locality), so range stats alone stop pruning MERGE candidates — the
  * write-side analog of the reference's scan pruning
  * (crates/timeseries-table-datafusion/src/ts_table_provider/pruning.rs:84-103).
  * The bloom lives in the file footer region, so the test is O(footer) IO
  * per file — never a data scan.
  */
object KeyBloom {

  /** True iff `file` may contain ANY of `keys` in column `colName`,
    * answered from bloom filters only. Conservative: a missing column,
    * missing bloom, or unsupported key type answers true (sound — the file
    * stays a rewrite candidate). Keys are matched per row group with
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
            else keys.exists { k =>
              hashOf(bloom, k) match {
                case Some(h) => bloom.findHash(h)
                case None    => true // untestable key type → sound fallback
              }
            }
        }
      }
    } finally reader.close()
  }

  private def hashOf(bloom: org.apache.parquet.column.values.bloomfilter.BloomFilter,
                     k: Any): Option[Long] = k match {
    case s: String            => Some(bloom.hash(Binary.fromString(s)))
    case l: java.lang.Long    => Some(bloom.hash(l.longValue()))
    case i: java.lang.Integer => Some(bloom.hash(i.intValue()))
    case d: java.lang.Double  => Some(bloom.hash(d.doubleValue()))
    case f: java.lang.Float   => Some(bloom.hash(f.floatValue()))
    case _                    => None
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
      // abort the MERGE — same conservative contract as every other
      // untestable case: keep the file as a candidate
      try { if (mayContainAny(conf, path, colName, keys)) Some(tag) else None }
      catch { case _: Exception => Some(tag) }
    }.flatten
  }
}
