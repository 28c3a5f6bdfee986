package graft

import scala.jdk.CollectionConverters._
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.io.api.Binary
import graft.data.TokenGen
import graft.meta._
import graft.table.{FooterStats, TsTable}

/** The footer layer: every segment's key bloom is sized to the keys the
  * file holds, at the unchanged 1 % false-positive rate. */
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
}
