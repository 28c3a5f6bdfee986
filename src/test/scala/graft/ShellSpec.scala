package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
import graft.cli.Shell
import graft.data.TokenGen
import graft.meta._
import graft.table.TsTable

/** Interactive shell driven by scripted input: meta-commands, statement
  * splitting at unquoted semicolons, time travel, timing. */
class ShellSpec extends SparkFunSuite {

  private def drive(script: String, preload: Map[String, String] = Map.empty): String = {
    val out = new ByteArrayOutputStream()
    Shell.repl(spark, new BufferedReader(new StringReader(script)),
      new PrintStream(out, true, "UTF-8"), preload)
    out.toString("UTF-8")
  }

  test("statement splitter: semicolons in strings/comments don't terminate") {
    assert(Shell.splitFirstStatement("SELECT 1;rest") == (Some("SELECT 1"), "rest"))
    assert(Shell.splitFirstStatement("SELECT ';' ")._1.isEmpty)
    assert(Shell.splitFirstStatement("SELECT 1 -- ;\n")._1.isEmpty)
    assert(Shell.splitFirstStatement("SELECT /* ; */ 1")._1.isEmpty)
    assert(Shell.splitFirstStatement("SELECT /* ; */ 1;")._1.contains("SELECT /* ; */ 1"))
    // backslash-escaped quote inside a string (Spark's default lexer honors
    // \'): the ; stays inside the literal, the statement splits after it
    assert(Shell.splitFirstStatement("SELECT 'it\\'s; fine' AS x; rest") ==
      (Some("SELECT 'it\\'s; fine' AS x"), " rest"))
    // backtick identifiers can contain ';'
    assert(Shell.splitFirstStatement("SELECT `a;b` FROM t")._1.isEmpty)
    assert(Shell.splitFirstStatement("SELECT `a;b` FROM t;")._1.contains("SELECT `a;b` FROM t"))
  }

  test("shell: open, query across lines, .at time travel, timing, quit") {
    val root = tmpDir("shell-tbl")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 100))
    val v1 = t.version
    t.append(TokenGen.generate(spark, 50, idStart = 5000))

    val script =
      s""".open $root AS tok
         |.tables
         |.version tok
         |.timing on
         |SELECT count(*) AS n
         |FROM tok;
         |.at tok $v1
         |SELECT count(*) AS n FROM tok;
         |.refresh tok
         |SELECT count(*) AS n FROM tok WHERE doc_id = 'doc-; not a real id';
         |.maxrows 3
         |.history tok
         |.quit
         |""".stripMargin
    val out = drive(script)
    assert(out.contains(s"opened $root as tok"))
    assert(out.contains("tok\t"), s"missing .tables output in:\n$out")
    assert(out.contains("150"), s"full count missing:\n$out") // both appends
    assert(out.contains(s"tok pinned at v$v1"))
    assert(out.contains("100"), s"time-travel count missing:\n$out")
    assert(out.contains("time: "), "timing line missing")
    assert(out.contains("maxrows 3"))
    assert(out.contains("APPEND") && out.contains("operation"),
      s".history output missing:\n$out")
  }

  test("shell: errors are reported, not fatal; unknown meta-command handled") {
    val out = drive(
      """.nope
        |SELECT definitely_not_a_column FROM missing_table;
        |.quit
        |""".stripMargin)
    assert(out.contains("unknown meta-command"))
    assert(out.contains("error:"))
  }

  test("shell: malformed meta-command arguments don't kill the REPL") {
    val root = tmpDir("shell-bad")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 10))
    val out = drive(
      s""".open $root AS tok
         |.at tok notanumber
         |.maxrows 99999999999
         |.tables
         |.quit
         |""".stripMargin)
    assert(out.contains("error:") || out.contains("usage:"), s"no error surfaced:\n$out")
    assert(out.contains("tok\t"), s"REPL died before .tables:\n$out")
  }

  /** A 25-row table opened as `tok` with the alias `seqs`, then `sql`;
    * each statement tags its one result `name=value`. */
  private def aliased(sql: String): String = {
    val root = tmpDir("shell-alias-views")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 25))
    drive(s""".open $root AS tok
             |.alias seqs tok
             |$sql
             |.alias --clear
             |.quit
             |""".stripMargin)
  }

  test("alias views: FROM, JOIN, from-list comma, subquery, qualified head read the table") {
    val out = aliased(
      """SELECT concat('from=', count(*)) AS r FROM seqs;
        |SELECT concat('join=', count(*)) AS r FROM tok JOIN seqs ON tok.doc_id = seqs.doc_id;
        |SELECT concat('comma=', count(*)) AS r FROM (SELECT 1 AS one) x, seqs;
        |SELECT concat('sub=', count(*)) AS r FROM (SELECT doc_id FROM seqs WHERE n_tok >= 0) s;
        |SELECT concat('head=', count(DISTINCT seqs.doc_id)) AS r FROM seqs;
        |""".stripMargin)
    for (tag <- Seq("from", "join", "comma", "sub", "head"))
      assert(out.contains(s"$tag=25"), s"$tag did not read the 25 table rows:\n$out")
    assert(!out.contains("error:"), out)
    assert(Shell.isValidAlias("_a1") && !Shell.isValidAlias("1a") &&
      !Shell.isValidAlias("a-b") && !Shell.isValidAlias(""))
  }

  test("alias views: CTEs, correlation aliases shadow it; columns, fields keep names") {
    val out = aliased(
      """WITH seqs AS (SELECT 7 AS a) SELECT concat('cte=', count(*), '/', max(a)) AS r FROM seqs;
        |WITH SEQS AS (SELECT 8 AS a) SELECT concat('ctecase=', max(a)) AS r FROM seqs;
        |WITH seqs(a) AS (SELECT 9) SELECT concat('ctecols=', max(a)) AS r FROM seqs;
        |WITH a AS (WITH b AS (SELECT 1 AS x) SELECT * FROM b), seqs AS (SELECT 2 AS x)
        |  SELECT concat('nested=', max(x)) AS r FROM seqs;
        |SELECT concat('corrin=', max(seqs.a)) AS r FROM (SELECT 5 AS a) seqs;
        |SELECT concat('corrout=', count(*)) AS r FROM seqs
        |  WHERE n_tok IN (SELECT seqs.n_tok FROM tok seqs);
        |SELECT concat('col=', seqs) AS r FROM (SELECT 3 AS seqs) x;
        |SELECT concat('selalias=', a) AS seqs FROM (SELECT 4 AS a) x ORDER BY seqs;
        |SELECT concat('field=', seqs.f) AS r FROM (SELECT named_struct('f', 6) AS seqs) x;
        |SELECT concat('tail=', s.seqs) AS r FROM (SELECT named_struct('seqs', 10) AS s) x;
        |""".stripMargin)
    for (want <- Seq("cte=1/7", "ctecase=8", "ctecols=9", "nested=2", "corrin=5", "corrout=25",
                     "col=3", "selalias=4", "field=6", "tail=10"))
      assert(out.contains(want), s"missing $want:\n$out")
    assert(!out.contains("error:"), out)
  }

  test("shell: .alias rewrites queries, .unalias drops, invalid names rejected") {
    val root = tmpDir("shell-alias")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 25))
    val out = drive(
      s""".open $root AS tok
         |.alias seqs
         |SELECT count(*) AS n FROM seqs;
         |.alias
         |.alias 9bad
         |.unalias seqs
         |SELECT count(*) AS n FROM seqs;
         |.quit
         |""".stripMargin)
    assert(out.contains("alias: seqs -> tok"), s"alias not set:\n$out")
    assert(out.contains("25"), s"aliased query did not run:\n$out")
    assert(out.contains("must match"), s"invalid alias accepted:\n$out")
    assert(out.contains("alias 'seqs' dropped"), out)
    // after unalias the name no longer resolves
    assert(out.contains("TABLE_OR_VIEW_NOT_FOUND") || out.contains("error:"), out)
  }

  test("shell: an alias follows .at/.refresh/.append; alias and table names never clash") {
    val root = tmpDir("shell-alias-follow")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 10).coalesce(1))
    val v1 = t.version
    t.append(TokenGen.generate(spark, 5, idStart = 100).coalesce(1))
    val ext = tmpDir("shell-alias-follow-src")
    TokenGen.generate(spark, 4, idStart = 900).coalesce(1).write.mode("overwrite").parquet(ext)
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(ext))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val other = tmpDir("shell-alias-follow-other")
    TsTable.create(other, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    val out1 = drive(
      s""".open $root AS tok
         |.alias seqs tok
         |SELECT concat('now=', count(*)) AS r FROM seqs;
         |.at tok $v1
         |SELECT concat('at=', count(*)) AS r FROM seqs;
         |.alias --clear
         |.quit
         |""".stripMargin)
    assert(out1.contains("now=15") && out1.contains("at=10"), out1)
    // a commit from outside the shell, then .refresh and .append
    t.append(TokenGen.generate(spark, 3, idStart = 500).coalesce(1))
    val out = drive(
      s""".open $root AS tok
         |.alias seqs tok
         |.at tok $v1
         |.refresh tok
         |SELECT concat('refresh=', count(*)) AS r FROM seqs;
         |.append tok $file
         |SELECT concat('append=', count(*)) AS r FROM seqs;
         |.alias tok tok
         |.alias TOK tok
         |.open $other AS seqs
         |.open $other AS SEQS
         |.tables
         |SELECT concat('alive=', count(*)) AS r FROM seqs;
         |.unalias SEQS
         |.quit
         |""".stripMargin)
    assert(out.contains("refresh=18") && out.contains("append=22"), out)
    assert(out.contains("error: 'tok' is an open table") && out.contains("error: 'TOK' is an open table"), out)
    assert(out.contains("error: 'seqs' is an alias") && out.contains("error: 'SEQS' is an alias"), out)
    assert(out.contains("alive=22") && out.contains("alias 'seqs' dropped"), out)
    assert(!out.contains(s"opened $other"), out)
  }

  test("shell: table names match case-insensitively, as SQL resolves them") {
    val root = tmpDir("shell-case")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 10).coalesce(1))
    val v1 = t.version
    t.append(TokenGen.generate(spark, 5, idStart = 100).coalesce(1))
    val out = drive(
      s""".open $root AS tok
         |.refresh TOK
         |.at TOK $v1
         |SELECT concat('at=', count(*)) AS r FROM tok;
         |.version Tok
         |.alias seqs TOK
         |SELECT concat('alias=', count(*)) AS r FROM seqs;
         |.quit
         |""".stripMargin)
    assert(out.contains(s"tok at v${t.version}") && out.contains(s"tok pinned at v$v1"), out)
    assert(out.contains("at=10") && out.contains("alias=10") && out.contains("alias: seqs -> tok"), out)
    assert(!out.contains("no such table") && !out.contains("usage:"), out)
  }

  test("shell: .pager pipes output through the pager, falls back on spawn failure") {
    val root = tmpDir("shell-pager")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 7))
    val sink = tmpDir("shell-pager-sink") + "/paged.txt"
    // pager = shell redirect: proves the rendered table went through the
    // external process's stdin, not the shell's own stream
    val outOk = {
      val bytes = new ByteArrayOutputStream()
      Shell.repl(spark, new BufferedReader(new StringReader(
        s""".open $root AS tok
           |.pager on
           |SELECT count(*) AS n FROM tok;
           |.quit
           |""".stripMargin)),
        new PrintStream(bytes, true, "UTF-8"), Map.empty,
        pagerCmd = Seq("/bin/sh", "-c", s"cat > $sink"))
      bytes.toString("UTF-8")
    }
    assert(outOk.contains("pager on"))
    val paged = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sink)), "UTF-8")
    assert(paged.contains("7"), s"pager did not receive the rendered table:\n$paged")
    assert(!outOk.contains("| 7 "), s"output bypassed the pager:\n$outOk")

    // nonexistent pager binary: warn + fall back to printing
    val outFb = {
      val bytes = new ByteArrayOutputStream()
      Shell.repl(spark, new BufferedReader(new StringReader(
        s""".open $root AS tok
           |.pager on
           |SELECT count(*) AS n FROM tok;
           |.quit
           |""".stripMargin)),
        new PrintStream(bytes, true, "UTF-8"), Map.empty,
        pagerCmd = Seq("/nonexistent-pager-binary"))
      bytes.toString("UTF-8")
    }
    assert(outFb.contains("warning: failed to launch pager"), outFb)
    assert(outFb.contains("7"), s"fallback lost the output:\n$outFb")
  }

  test("shell: .append lands a parquet file transactionally; .clear abandons a partial statement") {
    val root = tmpDir("shell-append")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    t.append(TokenGen.generate(spark, 10).coalesce(1))
    // external parquet to append through the shell
    val ext = tmpDir("shell-append-src")
    TokenGen.generate(spark, 5, idStart = 900).coalesce(1).write.mode("overwrite").parquet(ext)
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(ext))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val out = drive(
      s""".open $root AS tok
         |SELECT count(*) AS broken_statement
         |.clear
         |.append tok $file
         |SELECT count(*) AS n FROM tok;
         |.quit
         |""".stripMargin)
    assert(out.contains("buffer cleared"), s"mid-statement .clear not honored:\n$out")
    assert(out.contains("to tok -> v"), s".append did not commit:\n$out")
    assert(out.contains("15"), s"appended rows not visible:\n$out")
  }

  test("streaming appId: scheme URIs are cwd-independent, local paths canonicalize") {
    import graft.streaming.StreamingIngest.appId
    assert(appId("s3a://bucket/ck/") == "stream:s3a://bucket/ck")
    assert(appId("hdfs://nn:8020/ck") == "stream:hdfs://nn:8020/ck")
    assert(appId("/tmp/x/../y") == "stream:/tmp/y")
    // every spelling of the same local checkpoint is ONE application —
    // a restart with file:// vs bare path must hit the same txn watermark
    assert(appId("file:/tmp/ck") == "stream:/tmp/ck")
    assert(appId("file:///tmp/ck") == "stream:/tmp/ck")
    assert(appId("file:///tmp/ck") == appId("/tmp/ck"))
  }
}
