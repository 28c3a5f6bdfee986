package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.parquet.column.Encoding
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.log.LogAction
import graft.maintain.{Compaction, DeleteWhere, MergeInto}
import graft.meta._
import graft.table.{FooterStats, RowTracking, TsTable, Txn}

/** The footer layer: every segment's key bloom is sized to the keys the
  * file holds, at the unchanged 1 % false-positive rate, and every file
  * is written without a dictionary, on v2 delta pages. */
class FooterSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  /** The table's one live file after appending `rows` generated rows. */
  private def oneSegment(name: String, rows: Long): String = {
    val t = TsTable.create(tmpDir(name), tokenMeta)
    t.append(TokenGen.generate(spark, rows).coalesce(1))
    val live = t.state.liveSegments
    assert(live.size == 1, s"expected one segment, got ${live.size}")
    PathNorm.resolve(t.root, live.head.path)
  }

  /** The doc_id bloom of every row group of `file`. */
  private def keyBlooms(file: String): Seq[BloomFilter] = {
    val reader = FooterStats.open(spark.sparkContext.hadoopConfiguration, file)
    try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
      val cm = block.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cm)
      assert(bloom != null, s"no doc_id bloom in $file")
      bloom
    } finally reader.close()
  }

  private def mayContain(blooms: Seq[BloomFilter], key: String): Boolean =
    blooms.exists(b => b.findHash(b.hash(Binary.fromString(key))))

  /** Every column chunk of every row group of `file`. */
  private def chunks(file: String): Seq[ColumnChunkMetaData] = {
    val reader = FooterStats.open(spark.sparkContext.hadoopConfiguration, file)
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
    finally reader.close()
  }

  /** Whether every chunk of `file` is dictionary-free on v2 pages. */
  private def smallEncoded(file: String): Boolean = chunks(file).forall { c =>
    !c.hasDictionaryPage && c.getEncodingStats.usesV2Pages
  }

  private def liveFiles(t: TsTable): Seq[String] =
    t.state.liveSegments.map(s => PathNorm.resolve(t.root, s.path))

  test("a 50-row segment's key bloom is sized to its keys, not to a 64 KiB floor") {
    val blooms = keyBlooms(oneSegment("footer-small", 50))
    val sizes = blooms.map(_.getBitsetSize)
    assert(sizes.nonEmpty && sizes.forall(_ <= 2048), s"doc_id bloom bitset bytes: $sizes")
    (0 until 50).foreach(i => assert(mayContain(blooms, f"doc-$i%012d"), s"present key $i missed"))
  }

  test("a several-thousand-row segment's smaller key bloom keeps false positives at most 2 %") {
    val blooms = keyBlooms(oneSegment("footer-large", 4000))
    val sizes = blooms.map(_.getBitsetSize)
    assert(sizes.forall(_ < 65536), s"doc_id bloom bitset bytes: $sizes")
    (0 until 4000).foreach(i => assert(mayContain(blooms, f"doc-$i%012d"), s"present key $i missed"))
    val absent = (0 until 10000).map(i => f"doc-${1000000 + i}%012d")
    val falsePositives = absent.count(mayContain(blooms, _))
    assert(falsePositives <= 200, s"$falsePositives of 10000 absent keys hit blooms of $sizes bytes")
  }

  test("segment ids hash the footer: stable for one file, distinct for different content") {
    import spark.implicits._
    def file(name: String, docId: String): java.nio.file.Path = {
      val dir = tmpDir(name)
      Seq((docId, 7)).toDF("doc_id", "n_tok").coalesce(1).write.mode("overwrite").parquet(dir)
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
    }
    val (a, b) = (file("segid-a", "doc-a"), file("segid-b", "doc-b"))
    assert(java.nio.file.Files.size(a) == java.nio.file.Files.size(b), "expected equal sizes")
    val rel = "data/part-00000.parquet" // the same relative path for both
    val idA = SegmentMeta.segmentIdV1(rel, a)
    assert(idA.matches("seg-[0-9a-f]{32}"), idA)
    assert(SegmentMeta.segmentIdV1(rel, a) == idA, "the id of one file must be stable")
    assert(SegmentMeta.segmentIdV1(rel, b) != idA, "files with different rows share an id")
  }

  test("an append's files carry no dictionary page, v2 data pages and delta-packed tokens") {
    val cs = chunks(oneSegment("footer-encoding", 200))
    assert(cs.map(_.getPath.toDotString).toSet ==
      Set("doc_id", "tokens.list.element", "n_tok", "source"), cs.map(_.getPath))
    cs.foreach { c =>
      val st = c.getEncodingStats
      assert(!c.hasDictionaryPage && !st.hasDictionaryPages, s"${c.getPath} has a dictionary page")
      assert(st.usesV2Pages, s"${c.getPath} has v1 data pages")
      assert(c.getCodec == CompressionCodecName.ZSTD, s"${c.getPath} is ${c.getCodec}")
    }
    val tokens = cs.filter(_.getPath.toDotString == "tokens.list.element")
    tokens.foreach(c => assert(c.getEncodingStats.getDataEncodings.asScala ==
      Set(Encoding.DELTA_BINARY_PACKED), c.getEncodingStats.getDataEncodings))
  }

  test("a change set's _cdc file is zstd with no dictionary page") {
    val t = TsTable.create(tmpDir("footer-cdc"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, lenSpread = 64).coalesce(1))
    t.enableCdf()
    assert(DeleteWhere.delete(spark, t, col("doc_id") < "doc-000000000010").rowsDeleted == 10)
    val cdc = Files.walk(Paths.get(t.root, "_cdc")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(cdc.nonEmpty, "no _cdc file written")
    cdc.flatMap(chunks).foreach { c =>
      assert(c.getCodec == CompressionCodecName.ZSTD, s"${c.getPath} is ${c.getCodec}")
      assert(!c.hasDictionaryPage, s"${c.getPath} has a dictionary page")
    }
  }

  test("a table of dictionary and v2 delta files: MOR DVs, row ids, a CoW MERGE and " +
       "compaction all match a plain-Parquet oracle") {
    val t = TsTable.create(tmpDir("footer-mixed"), tokenMeta)
    t.append(TokenGen.generate(spark, 100, 2500L).coalesce(1))
    // a table written before segments dropped the dictionary: one
    // 2,500-row file with parquet's dictionary and v1 pages, written with
    // the other segment options and committed as a segment
    val legacySrc = tmpDir("footer-mixed-src")
    TokenGen.generate(spark, 2500).coalesce(1).write.mode("overwrite")
      .options(Txn.segmentWriteOptions(t.bloomKeyColumn) --
        Seq("parquet.enable.dictionary", "parquet.writer.version"))
      .parquet(legacySrc)
    val rel = "data/legacy-0.parquet"
    val dictFile = PathNorm.resolve(t.root, rel)
    Files.move(Files.list(Paths.get(legacySrc)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get, Paths.get(dictFile))
    val fs = FooterStats.read(spark.sparkContext.hadoopConfiguration, dictFile)
    t.store.commitWithExpectedVersion(t.version, Seq(LogAction.AddSegment(SegmentMeta(
      SegmentMeta.segmentIdV1(rel, Paths.get(dictFile)), rel, "parquet", fs.rowCount,
      Some(fs.fileSize), fs.stats, None))))
    t.refresh()
    assert(chunks(dictFile).exists(c => c.getPath.toDotString == "tokens.list.element" &&
      c.hasDictionaryPage), "the legacy file has no dictionary")
    (1 until 3).foreach(k => t.append(TokenGen.generate(spark, 100, 2500L + 100 * k).coalesce(1)))
    val deltaFiles = liveFiles(t).filterNot(_ == dictFile)
    assert(liveFiles(t).contains(dictFile) && deltaFiles.size == 3 && deltaFiles.forall(smallEncoded))

    // the oracle: the expected rows, written by Spark's default Parquet writer
    val oracleRoot = tmpDir("footer-mixed-oracle")
    var oracle: DataFrame = null
    def expect(df: DataFrame): Unit = {
      val dir = s"$oracleRoot/${java.util.UUID.randomUUID()}"
      df.write.parquet(dir)
      oracle = spark.read.parquet(dir)
    }
    def matchesOracle(what: String): Unit = {
      val got = t.scan(spark).select("doc_id", "tokens", "n_tok", "source")
      assert(got.count() == oracle.count(), what)
      assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty, what)
    }
    def doc(i: Long) = f"doc-$i%012d"
    expect(TokenGen.generate(spark, 2800))
    matchesOracle("after the appends")

    t.enableRowTracking()
    def ids(): Map[String, Long] = t.scanWithRowIds(spark).select("doc_id", RowTracking.RowIdCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids0 = ids()
    assert(ids0.size == 2800 && ids0.values.toSet.size == 2800)

    // positions by _metadata.row_index, on dictionary and on v2 pages
    val gone = Seq(3L, 1250L, 2499L, 2500L, 2650L, 2799L).map(doc)
    val del = DeleteWhere.deleteMor(spark, t, col("doc_id").isin(gone: _*))
    assert(del.rowsDeleted == gone.size && del.dvAttached == 4, del)
    val dvFiles = t.state.liveSegments.filter(_.dvPath.isDefined).map(s => PathNorm.resolve(t.root, s.path))
    assert(dvFiles.contains(dictFile) && dvFiles.count(deltaFiles.contains) == 3, dvFiles)
    expect(oracle.where(!col("doc_id").isin(gone: _*)))
    matchesOracle("after the MOR delete")
    assert(ids() == ids0 -- gone)

    // a CoW MERGE rewrites DV'd files of both encodings
    val upd = Seq(10L, 1700L, 2550L).map(doc)
    val ins = Seq(5000L, 5001L).map(doc)
    val updates = TokenGen.generateForIds(spark, upd ++ ins, salt = "m")
    val merged = MergeInto.merge(spark, t, updates)
    assert(merged.updated == upd.size && merged.inserted == ins.size, merged)
    assert(!liveFiles(t).contains(dictFile), "the MERGE kept the dictionary file")
    expect(oracle.where(!col("doc_id").isin(upd: _*)).unionByName(updates))
    matchesOracle("after the CoW MERGE")
    val ids1 = ids()
    assert(ids1 -- ins == ids0 -- gone)
    assert(ins.map(ids1).toSet.size == ins.size && !ins.map(ids1).exists(ids0.values.toSet))

    val compacted = Compaction.run(spark, t, targetFileSize = 64L << 20)
    assert(compacted.filesIn >= 2, compacted)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty))
    assert(liveFiles(t).forall(smallEncoded), "compaction kept a dictionary")
    matchesOracle("after compaction")
    assert(ids() == ids1)
  }
}
