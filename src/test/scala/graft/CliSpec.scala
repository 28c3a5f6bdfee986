package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.cli.Main
import graft.table.TsTable

/** CLI front end driven in-process: verb wiring, named + positional query
  * parameters, --timing, output sinks, and the quote-aware $N rewriter. */
class CliSpec extends SparkFunSuite {

  private def run(args: String*): Unit = Main.run(spark, args.toArray)

  test("rewritePositional: binds markers, respects strings/idents/comments") {
    assert(Main.rewritePositional("SELECT * FROM t WHERE a = $1 AND b < $2", 2) ==
      "SELECT * FROM t WHERE a = :__p1 AND b < :__p2")
    assert(Main.rewritePositional("SELECT '$1', \"$2col\", x FROM t WHERE y = $1", 1) ==
      "SELECT '$1', \"$2col\", x FROM t WHERE y = :__p1")
    assert(Main.rewritePositional("SELECT x -- $1 in comment\n FROM t WHERE y = $1", 1) ==
      "SELECT x -- $1 in comment\n FROM t WHERE y = :__p1")
    assert(Main.rewritePositional("SELECT /* $1 */ x FROM t WHERE y = $1", 1) ==
      "SELECT /* $1 */ x FROM t WHERE y = :__p1")
    intercept[IllegalArgumentException](Main.rewritePositional("WHERE y = $3", 2))
    // backtick-quoted identifiers and backslash-escaped quotes are opaque
    assert(Main.rewritePositional("SELECT `col$1` FROM t WHERE y = $1", 1) ==
      "SELECT `col$1` FROM t WHERE y = :__p1")
    assert(Main.rewritePositional("SELECT 'a\\'$1' FROM t WHERE y = $1", 1) ==
      "SELECT 'a\\'$1' FROM t WHERE y = :__p1")
  }

  test("create / append / query with positional args, named params, timing, output") {
    import spark.implicits._
    val root = tmpDir("cli-tbl")
    run("create", "--table", root, "--cluster-by", "source,n_tok,doc_id", "--curve", "zorder")

    // append via a parquet file (exercises the PAR1-validated copy path)
    val pq = tmpDir("cli-pq")
    graft.data.TokenGen.generate(spark, 200).coalesce(1).write.mode("overwrite").parquet(pq)
    val file = Files.list(Paths.get(pq)).iterator()
    val f = {
      var found: String = null
      while (file.hasNext && found == null) {
        val p = file.next(); if (p.toString.endsWith(".parquet")) found = p.toString
      }
      found
    }
    run("append", "--table", root, "--parquet", f)
    assert(TsTable.open(root).scan(spark).count() == 200)

    // positional $1/$2 + named :k in one query, csv output sink, --timing
    val out = tmpDir("cli-out") + "/res"
    run("query", "--table", root,
      "--sql", "SELECT doc_id, n_tok FROM t WHERE doc_id >= $1 AND doc_id <= $2 AND n_tok > :floor ORDER BY doc_id",
      "--arg", "doc-000000000010", "--arg", "doc-000000000050",
      "--param", "floor=0",
      "--output", out, "--format", "csv", "--timing")
    val res = spark.read.option("header", "true").csv(out)
    assert(res.count() == 41)
    assert(res.select("doc_id").as[String].collect().min == "doc-000000000010")

    // maintenance verbs drive end to end
    run("compact", "--table", root, "--target-file-size", (64L * 1024 * 1024).toString)
    run("merge", "--table", root, "--updates", pq) // idempotent re-merge of same rows
    assert(TsTable.open(root).scan(spark).count() == 200)
    run("expire", "--table", root, "--keep-from", TsTable.open(root).version.toString)
    assert(TsTable.open(root).scan(spark).count() == 200)

    // SQL kernel functions registered for --sql (simhash64 etc.)
    val out2 = tmpDir("cli-out2") + "/res"
    run("query", "--table", root,
      "--sql", "SELECT doc_id, simhash64(source) AS sh FROM t LIMIT 5",
      "--output", out2, "--format", "csv")
    assert(spark.read.option("header", "true").csv(out2).count() == 5)

    // --max-rows 0: zero rows displayed, no crash (reference cli parity)
    run("query", "--table", root, "--sql", "SELECT doc_id FROM t", "--max-rows", "0")

    // predicate delete through the CLI
    run("delete", "--table", root, "--where", "n_tok < 100")
    assert(TsTable.open(root).scan(spark).where(col("n_tok") < 100).count() == 0)

    // commit-log inspection (exercises the verb wiring; content asserted
    // in TsTableSpec's history test)
    run("history", "--table", root, "--max-rows", "5")
  }

  test("update / delete --mor / merge --delete / restore / diff verbs drive end to end") {
    import spark.implicits._
    val root = tmpDir("cli-r5")
    run("create", "--table", root, "--cluster-by", "source,n_tok,doc_id")
    val pq = tmpDir("cli-r5-pq")
    graft.data.TokenGen.generate(spark, 200).coalesce(1).write.mode("overwrite").parquet(pq)
    val f = {
      val s = Files.list(Paths.get(pq))
      try { var found: String = null
        val it = s.iterator()
        while (it.hasNext && found == null) {
          val p = it.next(); if (p.toString.endsWith(".parquet")) found = p.toString
        }
        found
      } finally s.close()
    }
    run("append", "--table", root, "--parquet", f)
    val pinned = TsTable.open(root).version

    // UPDATE: multi-column SET via SQL expressions
    run("update", "--table", root, "--where", "n_tok < 500",
      "--set", "source=concat(source, '-u')", "--set", "n_tok=n_tok + 1")
    val t1 = TsTable.open(root)
    assert(t1.scan(spark).where("source LIKE '%-u'").count() ==
      t1.scanAt(spark, pinned).where("n_tok < 500").count())

    // merge-on-read delete: no rewrite, DV sidecars
    run("delete", "--table", root, "--where", "n_tok > 1500", "--mor")
    assert(TsTable.open(root).scan(spark).where("n_tok > 1500").count() == 0)

    // MERGE ... WHEN MATCHED THEN DELETE from a key parquet
    val keysPq = tmpDir("cli-r5-keys")
    TsTable.open(root).scan(spark).select("doc_id").limit(10)
      .write.mode("overwrite").parquet(keysPq)
    val before = TsTable.open(root).scan(spark).count()
    run("merge", "--table", root, "--updates", keysPq, "--delete")
    assert(TsTable.open(root).scan(spark).count() == before - 10)

    // diff since the pinned append, jsonl sink (tokens is an array column)
    val out = tmpDir("cli-r5-out") + "/d"
    run("diff", "--table", root, "--from", pinned.toString,
      "--output", out, "--format", "jsonl")
    val d = spark.read.json(out)
    assert(d.select("_change_type").as[String].collect().toSet
      .subsetOf(Set("insert", "delete", "update_pre", "update_post")))
    assert(d.where("_change_type = 'delete'").count() > 0)

    // restore to the pinned version: everything above rolls back
    run("restore", "--table", root, "--to-version", pinned.toString)
    val t2 = TsTable.open(root)
    assert(t2.scan(spark).count() == 200)
    assert(t2.scan(spark).where("source LIKE '%-u'").count() == 0)
  }

  test("branch verb: create, --branch-scoped append+query, publish, list, drop") {
    val root = tmpDir("cli-branch")
    run("create", "--table", root, "--cluster-by", "source,n_tok,doc_id")
    val pq = tmpDir("cli-branch-pq")
    graft.data.TokenGen.generate(spark, 100).coalesce(1).write.mode("overwrite").parquet(pq)
    val f = {
      val it = Files.list(Paths.get(pq)).iterator()
      var found: String = null
      while (it.hasNext && found == null) {
        val p = it.next(); if (p.toString.endsWith(".parquet")) found = p.toString
      }
      found
    }
    run("append", "--table", root, "--parquet", f)

    run("branch", "--table", root, "--create", "wap")
    val pq2 = tmpDir("cli-branch-pq2")
    graft.data.TokenGen.generate(spark, 40, idStart = 5000L)
      .coalesce(1).write.mode("overwrite").parquet(pq2)
    val f2 = {
      val it = Files.list(Paths.get(pq2)).iterator()
      var found: String = null
      while (it.hasNext && found == null) {
        val p = it.next(); if (p.toString.endsWith(".parquet")) found = p.toString
      }
      found
    }
    // write + maintenance scoped to the branch; main stays at 100 rows
    run("append", "--table", root, "--parquet", f2, "--branch", "wap")
    run("compact", "--table", root, "--branch", "wap",
      "--target-file-size", (8L * 1024 * 1024).toString)
    assert(TsTable.open(root).scan(spark).count() == 100)
    assert(TsTable.open(root).branch("wap").scan(spark).count() == 140)

    run("branch", "--table", root)                    // list (smoke)
    run("branch", "--table", root, "--publish", "wap")
    val t = TsTable.open(root)
    assert(t.scan(spark).count() == 140 && t.branches.isEmpty)

    run("branch", "--table", root, "--create", "dead")
    run("branch", "--table", root, "--drop", "dead")
    assert(TsTable.open(root).branches.isEmpty)
  }

  test("create rejects invalid bucket specs with a friendly error") {
    val e = intercept[IllegalArgumentException] {
      run("create", "--table", tmpDir("cli-bad"),
        "--time-column", "ts", "--bucket", "1w")
    }
    assert(e.getMessage != null && e.getMessage.contains("1w"),
      s"bucket error should name the bad spec: ${e.getMessage}")
  }

  test("query --at-timestamp rejects a bad instant naming the flag and the value") {
    val root = tmpDir("cli-badts")
    run("create", "--table", root, "--cluster-by", "source,n_tok,doc_id")
    val e = intercept[IllegalArgumentException] {
      run("query", "--table", root, "--sql", "SELECT count(*) FROM t", "--at-timestamp", "noon")
    }
    assert(e.getMessage.contains("--at-timestamp") && e.getMessage.contains("'noon'"), e.getMessage)
  }

  test("a bad numeric flag or --start instant fails naming the flag and the value") {
    val root = tmpDir("cli-badnum")
    run("create", "--table", root, "--cluster-by", "source,n_tok,doc_id")
    val e = intercept[IllegalArgumentException] {
      run("query", "--table", root, "--sql", "SELECT count(*) FROM t", "--max-rows", "ten")
    }
    assert(e.getMessage.contains("--max-rows") && e.getMessage.contains("'ten'"), e.getMessage)
    val ts = tmpDir("cli-badstart")
    run("create", "--table", ts, "--time-column", "ts", "--bucket", "1h")
    val e2 = intercept[IllegalArgumentException] {
      run("coverage", "--table", ts, "--start", "yesterday", "--end", "2024-01-01T00:00:00Z")
    }
    assert(e2.getMessage.contains("--start") && e2.getMessage.contains("'yesterday'"), e2.getMessage)
  }
}
