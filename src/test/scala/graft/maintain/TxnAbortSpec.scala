package graft.maintain

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkFunSuite
import graft.log.LogAction
import graft.meta._
import graft.table.{CheckViolationException, ConcurrentSegmentChangeException, TsTable}

/** The abort paths of [[graft.table.Txn]]: whatever a transaction staged —
  * data segments, coverage sidecars, change-feed files, DV sidecars — is
  * gone once it aborts on a conflict or turns out to be a replayed batch,
  * so every file under the table's data directories is one the log
  * references. */
class TxnAbortSpec extends SparkFunSuite {

  private def pricesMeta = TableMeta("prices",
    TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None)

  private def hourDf(h: Int): DataFrame = {
    import spark.implicits._
    (0 until 60).map(m => (s"2024-03-01 %02d:%02d:00".format(h, m), h * 100.0 + m))
      .toDF("tss", "price")
      .select(to_timestamp(col("tss")).as("ts"), col("price"))
  }

  private def before(h: Int, m: Int) =
    col("ts") < to_timestamp(lit("2024-03-01 %02d:%02d:00".format(h, m)))

  /** Files under data/, _dv/, _cdc/ and _coverage/segments/ that no commit
    * in the log references. */
  private def unreferenced(root: String): Seq[String] = {
    val t = TsTable.open(root)
    val referenced = (1L to t.version).flatMap(v => t.store.readCommit(v).actions.flatMap {
      case LogAction.AddSegment(s) => Seq(s.path) ++ s.coveragePath ++ s.dvPath
      case LogAction.AddCdcFile(p, _) => Seq(p)
      case _ => Nil
    }).toSet
    val base = Paths.get(root)
    Seq("data", "_dv", "_cdc", "_coverage/segments").flatMap { d =>
      val dir = base.resolve(d)
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map((p: Path) => base.relativize(p).toString).toSeq
        finally s.close()
      }
    }.filterNot(referenced)
  }

  /** One Txn on `t` that stages a segment, a CDC file and (through the MOR
    * matched-row pass over `seg`) a DV sidecar, with `concurrent` landing
    * in between. */
  private def stageAll(t: TsTable, seg: SegmentMeta)(concurrent: => Unit): Unit =
    t.transact() { tx =>
      tx.stage(hourDf(12).coalesce(1))
      tx.stageCdc(hourDf(12).withColumn("_change_type", lit("insert")))
      val base = RowLevel.morBase(spark, t, Seq(seg))(raw =>
        raw.select(
          col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__i"),
          before(10, 30).as("__m"),
          RowLevel.bucketExpr(t).as("__b")))
      assert(RowLevel.morCompute(spark, t, tx, Seq(seg), base).isDefined)
      assert(unreferenced(t.root).exists(_.startsWith("_dv/")), "DV sidecar staged")
      concurrent
    }

  for ((label, conflict) <- Seq[(String, TsTable => Unit)](
      "removes" -> (o => DeleteWhere.delete(spark, o, before(11, 0))),
      "re-DVs" -> (o => DeleteWhere.deleteMor(spark, o, before(10, 10))))) {
    test(s"an aborted Txn leaves no staged file when another handle $label its segment") {
      val root = tmpDir("txn-abort")
      val t = TsTable.create(root, pricesMeta)
      t.append(hourDf(10).coalesce(1))
      t.append(hourDf(11).coalesce(1))
      val seg = t.state.liveSegments.find(_.stats("price").min.contains(StatVal.D(1000.0))).get
      val v0 = t.version
      intercept[ConcurrentSegmentChangeException](stageAll(t, seg)(conflict(TsTable.open(root))))
      assert(TsTable.open(root).version == v0 + 1, "only the conflicting commit landed")
      assert(unreferenced(root).isEmpty, s"debris: ${unreferenced(root)}")
    }
  }

  test("a CHECK another handle adds between stage and commit re-gates the staged files") {
    val root = tmpDir("txn-check-race")
    val t = TsTable.create(root, pricesMeta)
    t.append(hourDf(10).coalesce(1))
    val v0 = t.version
    // the staged hour-12 prices run 1200..1259: clean under the snapshot the
    // Txn read, ten of them violate the check that lands before its commit
    val e = intercept[CheckViolationException](t.transact() { tx =>
      tx.stage(hourDf(12).coalesce(1))
      TsTable.open(root).addCheck(spark, "cap", "price < 1250")
    })
    assert(e.check == "cap" && e.violations == 10)
    assert(TsTable.open(root).version == v0 + 1, "only the check commit landed")
    assert(unreferenced(root).isEmpty, s"debris: ${unreferenced(root)}")
    assert(t.scan(spark).count() == 60)
  }

  test("a replayed (app, batch) returns the watermark version and leaves no staged file") {
    val root = tmpDir("txn-replay")
    val t = TsTable.create(root, pricesMeta)
    t.append(hourDf(10).coalesce(1), txn = Some(("app", 1L)))
    val v = t.version
    val seg = t.state.liveSegments.head
    val done = t.transact() { tx =>
      tx.watermark(("app", 1L))
      tx.stage(hourDf(12).coalesce(1))
      tx.stageCdc(hourDf(12).withColumn("_change_type", lit("insert")))
      tx.remove(Seq(seg))
      tx.writeSidecar(s"_dv/dv-${seg.segmentId}-replay.dv", Array[Byte](1, 2, 3))
    }
    assert(done.replayed && done.version == v)
    assert(t.version == v, "a replay commits nothing")
    assert(unreferenced(root).isEmpty, s"debris: ${unreferenced(root)}")
    assert(t.scan(spark).count() == 60)
  }
}
