package graft.meta

import com.fasterxml.jackson.databind.JsonNode

/** A typed scalar stat value (column min/max) with a total order within a
  * type. The reference keeps only `[ts_min, ts_max]` per segment
  * (metadata/segments.rs:56-83); the north rule asks for per-file min/max on
  * `(source, n_tok, doc_id)` too, so we generalize to a per-column stats map.
  */
sealed trait StatVal {
  def jsonInto(n: com.fasterxml.jackson.databind.node.ObjectNode, key: String): Unit
}
object StatVal {
  final case class L(v: Long)    extends StatVal { def jsonInto(n: com.fasterxml.jackson.databind.node.ObjectNode, k: String): Unit = n.put(k, v) }
  final case class D(v: Double)  extends StatVal { def jsonInto(n: com.fasterxml.jackson.databind.node.ObjectNode, k: String): Unit = n.put(k, v) }
  final case class S(v: String)  extends StatVal { def jsonInto(n: com.fasterxml.jackson.databind.node.ObjectNode, k: String): Unit = n.put(k, v) }
  final case class B(v: Boolean) extends StatVal { def jsonInto(n: com.fasterxml.jackson.databind.node.ObjectNode, k: String): Unit = n.put(k, v) }

  def fromJson(n: JsonNode): StatVal =
    if (n.isTextual) S(n.asText())
    else if (n.isBoolean) B(n.asBoolean())
    else if (n.isIntegralNumber) L(n.asLong())
    else if (n.isFloatingPointNumber) D(n.asDouble())
    else throw new IllegalArgumentException(s"unsupported stat value $n")

  def fromAny(v: Any): Option[StatVal] = v match {
    case null                     => None
    case x: Long                  => Some(L(x))
    case x: Int                   => Some(L(x.toLong))
    case x: Short                 => Some(L(x.toLong))
    case x: Byte                  => Some(L(x.toLong))
    case x: Double                => Some(D(x))
    case x: Float                 => Some(D(x.toDouble))
    case x: String                => Some(S(x))
    case x: Boolean               => Some(B(x))
    case x: java.sql.Timestamp    => Some(L(x.getTime * 1000L + (x.getNanos / 1000) % 1000)) // epoch micros
    case x: java.time.Instant     => Some(L(x.getEpochSecond * 1000000L + x.getNano / 1000))
    case x: java.sql.Date         => Some(L(x.toLocalDate.toEpochDay))
    case x: java.math.BigDecimal  => Some(D(x.doubleValue()))
    case _                        => None
  }

  /** 3-valued comparison: Some(neg/0/pos) when comparable, None across types. */
  def cmp(a: StatVal, b: StatVal): Option[Int] = (a, b) match {
    case (L(x), L(y)) => Some(java.lang.Long.compare(x, y))
    case (D(x), D(y)) => Some(java.lang.Double.compare(x, y))
    case (L(x), D(y)) => Some(java.lang.Double.compare(x.toDouble, y))
    case (D(x), L(y)) => Some(java.lang.Double.compare(x, y.toDouble))
    case (S(x), S(y)) => Some(utf8Cmp(x, y))
    case (B(x), B(y)) => Some(java.lang.Boolean.compare(x, y))
    case _            => None
  }

  /** String order for stats comparisons: UNSIGNED UTF-8 byte order — the
    * order Parquet computes footer min/max in (and the order Spark's
    * UTF8String comparisons use). Java String.compareTo is UTF-16
    * code-unit order, which DISAGREES for supplementary characters
    * (surrogates 0xD800–0xDFFF sort below U+E000–U+FFFF in UTF-16, but
    * their 4-byte UTF-8 forms sort ABOVE every 3-byte char) — comparing
    * footer stats with compareTo could prune a file that contains the
    * matching row. */
  def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }
}

/** Per-column [min, max] (inclusive) plus null count. */
final case class ColStats(min: Option[StatVal], max: Option[StatVal], nullCount: Long)

/** One immutable Parquet data file of the table.
  *
  * Reference: `SegmentMeta { segment_id, path, format, ts_min, ts_max,
  * row_count, file_size, coverage_path }` (metadata/segments.rs:56-83);
  * ours generalizes the two ts stats to a per-column stats map so the
  * maintenance planner can prune on (source, n_tok, doc_id) as well.
  */
final case class SegmentMeta(
    segmentId: String,
    path: String,          // relative to table root
    format: String,        // "parquet"
    rowCount: Long,        // PHYSICAL rows in the file (never changes)
    fileSize: Option[Long],
    stats: Map[String, ColStats],
    coveragePath: Option[String],
    // Merge-on-read deletion vector: a sidecar bitmap of deleted row
    // positions (Delta-DV / Iceberg-positional-delete analog; not in the
    // reference — its log is append-only). `stats` stay PHYSICAL and thus
    // conservative: the live subset of a file can only have narrower
    // min/max, so AlwaysFalse pruning conclusions remain sound.
    dvPath: Option[String] = None,   // relative to table root, immutable
    dvCardinality: Long = 0L,        // deleted positions in dvPath
    // Row tracking (Delta baseRowId / defaultRowCommitVersion analog),
    // assigned AT COMMIT TIME from the table's row-id high-water mark:
    // a row's stable id is coalesce(materialized `_row_id` column,
    // baseRowId + parquet row position); its last-modified version is
    // coalesce(materialized `_row_commit`, rowVersion). Files never
    // carry the base — re-adding the same SegmentMeta (DV attach,
    // RESTORE) copies it, so ids survive every metadata-only verb.
    baseRowId: Option[Long] = None,
    rowVersion: Option[Long] = None) {

  def tsMin(col: String): Option[StatVal] = stats.get(col).flatMap(_.min)
  def tsMax(col: String): Option[StatVal] = stats.get(col).flatMap(_.max)

  /** Rows a scan of this segment returns (physical minus DV'd). */
  def liveRowCount: Long = rowCount - dvCardinality

  /** The files this segment references: data, coverage and DV sidecars. */
  def files: Seq[String] = path +: (coveragePath.toSeq ++ dvPath.toSeq)

  def toJson: JsonNode = {
    val n = Json.obj()
    n.put("segment_id", segmentId)
    n.put("path", path)
    n.put("format", format)
    n.put("row_count", rowCount)
    fileSize.foreach(n.put("file_size", _))
    val st = n.putObject("stats")
    stats.toSeq.sortBy(_._1).foreach { case (col, cs) =>
      val c = st.putObject(col)
      cs.min.foreach(_.jsonInto(c, "min"))
      cs.max.foreach(_.jsonInto(c, "max"))
      c.put("null_count", cs.nullCount)
    }
    coveragePath.foreach(n.put("coverage_path", _))
    dvPath.foreach { p => n.put("dv_path", p); n.put("dv_cardinality", dvCardinality) }
    baseRowId.foreach(n.put("base_row_id", _))
    rowVersion.foreach(n.put("row_version", _))
    n
  }
}

object SegmentMeta {
  def fromJson(n: JsonNode): SegmentMeta = {
    val stats = Option(n.get("stats")).map { st =>
      Json.fields(st).map { case (col, c) =>
        col -> ColStats(
          Option(c.get("min")).map(StatVal.fromJson),
          Option(c.get("max")).map(StatVal.fromJson),
          Json.optLong(c, "null_count").getOrElse(0L))
      }
    }.getOrElse(Map.empty[String, ColStats])
    SegmentMeta(
      Json.getStr(n, "segment_id"),
      Json.getStr(n, "path"),
      Json.getStr(n, "format"),
      Json.getLong(n, "row_count"),
      Json.optLong(n, "file_size"),
      stats,
      Json.optStr(n, "coverage_path"),
      Json.optStr(n, "dv_path"),
      Json.optLong(n, "dv_cardinality").getOrElse(0L),
      Json.optLong(n, "base_row_id"),
      Json.optLong(n, "row_version"))
  }

  /** Content-addressed segment id, mirroring the reference's
    * `"segment-id-v1\0" + rel_path + "\0" + bytes → blake3[..32hex]`
    * (metadata/segments.rs:191-201). We SHA-256 (rel_path, file length,
    * footer region): a Parquet footer holds every column chunk's offsets,
    * sizes, value counts and min/max, so files that differ in content
    * differ there — deterministic and idempotent for retry dedup at the
    * IO of a footer (a few KiB), not of the file. A file without a
    * Parquet tail hashes its last 64 KiB instead.
    */
  def segmentIdV1(relPath: String, file: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update("segment-id-v1".getBytes("UTF-8")); md.update(0.toByte)
    md.update(relPath.getBytes("UTF-8"))
    md.update(0.toByte)
    val size = java.nio.file.Files.size(file)
    md.update(java.nio.ByteBuffer.allocate(8).putLong(size).array())
    val ch = java.nio.channels.FileChannel.open(file)
    def read(len: Long): java.nio.ByteBuffer = {
      val buf = java.nio.ByteBuffer.allocate(len.toInt)
      while (buf.hasRemaining && ch.read(buf, size - len + buf.position()) >= 0) {}
      buf.flip(); buf
    }
    try {
      // tail: 4-byte little-endian footer length, then the magic "PAR1"
      val tail = read(math.min(size, 8L)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val footer = if (size >= 12L && tail.getInt(4) == 0x31524150) tail.getInt(0).toLong else -1L
      md.update(read(if (footer > 0L && footer <= size - 12L) footer + 8L
                     else math.min(size, 65536L)))
    } finally ch.close()
    "seg-" + md.digest().take(16).map("%02x".format(_)).mkString
  }
}
