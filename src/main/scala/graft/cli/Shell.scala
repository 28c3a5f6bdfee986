package graft.cli

import java.io.{BufferedReader, PrintStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.TsTable

/** Interactive shell — the Spark rebuild of the reference CLI shell
  * (timeseries-table-cli/src/shell.rs:401-480 meta-command dispatch,
  * :727-1004 quote/comment-aware statement handling): dot meta-commands
  * plus multi-line SQL statements terminated by an unquoted `;`. Opened
  * tables register as temp views, so plain SQL resolves them by name. The
  * reference's `alias NAME` rewrites SQL text; here `.alias NAME [TABLE]`
  * makes NAME resolve to TABLE (a view over the table's current view), so
  * Spark's analyzer scopes it like any other name: CTEs and correlation
  * aliases shadow it, and a column or struct field of that name is never
  * touched. Aliases share the catalog's one, case-insensitive namespace
  * with the open tables.
  *
  * Driven through (in, out) streams so tests can script it; `graft.cli.Main
  * shell` wires it to stdin/stdout.
  */
object Shell {

  private final case class State(
      var tables: Map[String, TsTable] = Map.empty,
      var aliases: Map[String, String] = Map.empty, // alias -> open table
      var timing: Boolean = false,
      var maxRows: Int = 20,
      var pager: Boolean = false,
      var pagerCmd: Seq[String] = Seq("less", "-S"),
      var done: Boolean = false)

  def repl(spark: SparkSession, in: BufferedReader, out: PrintStream,
           preload: Map[String, String] = Map.empty,
           pagerCmd: Seq[String] = Seq("less", "-S")): Unit = {
    graft.functions.GraftFunctions.register(spark) // simhash64(...) etc in SQL
    val st = State(pagerCmd = pagerCmd)
    preload.foreach { case (name, root) => openTable(spark, st, out, root, Some(name)) }
    val sqlBuf = new StringBuilder
    out.println("graft shell — .help for commands, SQL statements end with ';'")
    var line = in.readLine()
    while (line != null && !st.done) {
      if (line.trim == ".clear") {
        // works MID-STATEMENT (other meta-commands are only recognized
        // between statements): abandon the partial SQL buffer
        sqlBuf.clear(); out.println("buffer cleared")
      } else if (sqlBuf.toString.trim.isEmpty && line.trim.startsWith(".")) {
        sqlBuf.clear() // drop inter-statement whitespace remainder
        // a typo (.at t abc, expired version, …) must not kill the REPL
        try meta(spark, st, out, line.trim)
        catch { case e: Exception => out.println(s"error: ${e.getMessage}") }
      } else {
        sqlBuf.append(line).append('\n')
        // execute every complete (unquoted-;-terminated) statement
        var (stmt, rest) = splitFirstStatement(sqlBuf.toString)
        while (stmt.isDefined) {
          runSql(spark, st, out, stmt.get)
          sqlBuf.clear(); sqlBuf.append(rest)
          val n = splitFirstStatement(sqlBuf.toString); stmt = n._1; rest = n._2
        }
      }
      line = if (st.done) null else in.readLine()
    }
  }

  private def meta(spark: SparkSession, st: State, out: PrintStream, cmd: String): Unit = {
    val parts = cmd.split("\\s+").toSeq
    // an open table's name, as the catalog resolves it (case-insensitively)
    object Open { def unapply(name: String): Option[String] = named(st.tables, name) }
    parts.head match {
      case ".help" => out.println(
        """.open ROOT [AS name]   register a graft table as a view
          |.tables                list registered tables (name, root, version)
          |.schema NAME           show a table's schema
          |.version NAME          show a table's current version
          |.at NAME VERSION       re-register NAME pinned at VERSION (time travel)
          |.history NAME          commit log (version, operation, file counts)
          |.refresh NAME          re-register NAME at latest version
          |.timing on|off         print statement wall time
          |.maxrows N             rows shown per statement (default 20)
          |.alias NAME [TABLE]    NAME resolves to TABLE (a view)
          |.alias --clear         drop all aliases   (.alias: list, .unalias NAME: drop one)
          |.pager on|off          page statement output through `less -S`
          |.append NAME PATH      append a parquet file to NAME (transactional)
          |.clear                 abandon the partial SQL statement buffer
          |.quit / .exit          leave""".stripMargin)
      case ".open" => parts.tail match {
        case Seq(root) => openTable(spark, st, out, root, None)
        case Seq(root, as, name) if as.equalsIgnoreCase("as") => openTable(spark, st, out, root, Some(name))
        case _ => out.println("usage: .open ROOT [AS name]")
      }
      case ".tables" =>
        if (st.tables.isEmpty) out.println("(none)")
        else st.tables.toSeq.sortBy(_._1).foreach { case (n, t) =>
          out.println(s"$n\t${t.root}\tv${t.version}") }
      case ".schema" => withTable(st, out, parts) { (n, t) =>
        out.println(t.scan(spark).schema.treeString) }
      case ".version" => withTable(st, out, parts) { (n, t) => out.println(s"v${t.version}") }
      case ".at" => parts.tail match {
        case Seq(Open(n), v) =>
          register(st, n, st.tables(n).scanAt(spark, v.toLong))
          out.println(s"$n pinned at v$v")
        case _ => out.println("usage: .at NAME VERSION (open it first)")
      }
      case ".refresh" => withTable(st, out, parts) { (n, t) =>
        t.refresh(); register(st, n, t.scan(spark)); out.println(s"$n at v${t.version}") }
      case ".history" => withTable(st, out, parts) { (_, t) =>
        out.print(org.apache.spark.sql.graft.Bridge.showString(
          t.history(spark, limit = st.maxRows), st.maxRows, truncate = 0)) }
      // reference shell.rs:387-516 `alias NAME`, generalized to this
      // shell's multiple tables: `.alias NAME TABLE` (TABLE defaults to the
      // only open table)
      case ".alias" => parts.tail match {
        case Seq() =>
          if (st.aliases.isEmpty) out.println("alias: (none)")
          else st.aliases.toSeq.sortBy(_._1).foreach { case (a, t) => out.println(s"alias: $a -> $t") }
        case Seq("--clear") =>
          st.aliases.keys.foreach(spark.catalog.dropTempView)
          st.aliases = Map.empty; out.println("alias: (none)")
        case Seq(name) if st.tables.size == 1 => setAlias(spark, st, out, name, st.tables.keys.head)
        case Seq(name) => out.println(
          if (st.tables.isEmpty) "no open tables (.open first)"
          else "several tables open — usage: .alias NAME TABLE")
        case Seq(name, Open(tbl)) => setAlias(spark, st, out, name, tbl)
        case Seq(_, tbl) => out.println(s"no such table '$tbl' (.tables)")
        case _ => out.println("usage: .alias [NAME [TABLE] | --clear]")
      }
      case ".unalias" => parts.tail match {
        case Seq(name) => named(st.aliases, name) match {
          case Some(a) =>
            spark.catalog.dropTempView(a); st.aliases -= a; out.println(s"alias '$a' dropped")
          case None => out.println(s"no such alias '$name'")
        }
        case _ => out.println("usage: .unalias NAME")
      }
      case ".pager" => parts.tail match {
        case Seq("on")  => st.pager = true;  out.println("pager on")
        case Seq("off") => st.pager = false; out.println("pager off")
        case _ => out.println("usage: .pager on|off")
      }
      case ".timing" => parts.tail match {
        case Seq("on")  => st.timing = true;  out.println("timing on")
        case Seq("off") => st.timing = false; out.println("timing off")
        case _ => out.println("usage: .timing on|off")
      }
      case ".maxrows" => parts.tail match {
        case Seq(n) if n.forall(_.isDigit) && n.nonEmpty => st.maxRows = n.toInt; out.println(s"maxrows $n")
        case _ => out.println("usage: .maxrows N")
      }
      // reference shell.rs `append <path>`: transactional single-file
      // append from the REPL (validates magic + logical schema, refuses
      // overwrite), then re-registers the view at the new version
      case ".append" => parts.tail match {
        case Seq(Open(n), path) =>
          val t = st.tables(n)
          val v = t.appendParquetFile(spark, path)
          register(st, n, t.scan(spark))
          out.println(s"appended $path to $n -> v$v")
        case Seq(name, _) => out.println(s"no such table '$name' (.tables)")
        case _ => out.println("usage: .append NAME PARQUET_PATH")
      }
      case ".quit" | ".exit" => st.done = true
      case other => out.println(s"unknown meta-command '$other' (.help)")
    }
  }

  private def withTable(st: State, out: PrintStream, parts: Seq[String])
                       (f: (String, TsTable) => Unit): Unit = parts.tail match {
    case Seq(name) => named(st.tables, name) match {
      case Some(n) => f(n, st.tables(n))
      case None    => out.println(s"no such table '$name' (.tables)")
    }
    case _ => out.println(s"usage: ${parts.head} NAME")
  }

  private def openTable(spark: SparkSession, st: State, out: PrintStream,
                        root: String, nameOpt: Option[String]): Unit =
    try {
      val name = nameOpt.getOrElse(viewNameFor(root))
      named(st.aliases, name).foreach(a =>
        throw new IllegalArgumentException(s"'$name' is an alias (.unalias $a first)"))
      val t = TsTable.open(root)
      register(st, name, t.scan(spark))
      st.tables = st.tables -- named(st.tables, name) + (name -> t) // one view per name
      out.println(s"opened $root as $name (v${t.version})")
    } catch { case e: Exception => out.println(s"error: ${e.getMessage}") }

  /** Register `df` as the view `name`. Re-registering an open table
    * re-registers its aliases from the same DataFrame, so an alias follows
    * `.at` pins, refreshes and appends. */
  private def register(st: State, name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    st.aliases.foreach { case (a, t) => if (t == name) df.createOrReplaceTempView(a) }
  }

  /** The key of `m` equal to `name` in the catalog's case-insensitive sense. */
  private def named(m: Map[String, Any], name: String): Option[String] =
    m.keys.find(_.equalsIgnoreCase(name))

  private def setAlias(spark: SparkSession, st: State, out: PrintStream,
                       name: String, tbl: String): Unit =
    if (!isValidAlias(name)) out.println("alias must match [A-Za-z_][A-Za-z0-9_]*")
    else if (named(st.tables, name).isDefined) out.println(s"error: '$name' is an open table")
    else {
      st.aliases = st.aliases -- named(st.aliases, name) + (name -> tbl)
      spark.table(tbl).createOrReplaceTempView(name)
      out.println(s"alias: $name -> $tbl")
    }

  private[graft] def isValidAlias(s: String): Boolean =
    s.nonEmpty && (s.head.isLetter && s.head <= 'z' || s.head == '_') &&
      s.tail.forall(c => (c.isLetterOrDigit && c <= 'z') || c == '_')

  private def runSql(spark: SparkSession, st: State, out: PrintStream, sql: String): Unit = {
    if (sql.trim.isEmpty) return
    val t0 = System.nanoTime()
    try {
      val df = spark.sql(sql)
      // showString is what df.show prints; capture it for our own stream
      val text = org.apache.spark.sql.graft.Bridge.showString(df, st.maxRows, truncate = 0)
      if (st.pager) pageOutput(text, out, st.pagerCmd) else out.print(text)
      if (st.timing) out.println(f"time: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    } catch { case e: Exception =>
      // e.getMessage can be null (e.g. a bare NPE out of analysis); the
      // handler must never be the thing that kills the REPL
      val msg = Option(e.getMessage).getOrElse(e.toString)
      out.println(s"error: ${msg.linesIterator.take(3).mkString(" | ")}")
    }
  }

  /** One step of the SQL lexical scanner shared by splitFirstStatement and
    * Main.rewritePositional (the reference's tokenizer, shell.rs:401-480).
    * States: ' ' code, '\'' / '"' string (backslash escapes honored, as
    * Spark's default lexer does), '`' backtick identifier, '-' line
    * comment, '*' block comment. Returns (new state, chars consumed). */
  private[graft] def scanStep(text: String, i: Int, state: Char): (Char, Int) = {
    val c = text.charAt(i)
    def next = if (i + 1 < text.length) text.charAt(i + 1) else '\u0000'
    state match {
      case ' ' =>
        if (c == '\'') ('\'', 1)
        else if (c == '"') ('"', 1)
        else if (c == '`') ('`', 1)
        else if (c == '-' && next == '-') ('-', 2)
        else if (c == '/' && next == '*') ('*', 2)
        else (' ', 1)
      case '\'' =>
        if (c == '\\' && i + 1 < text.length) ('\'', 2) // escaped char, incl. \'
        else if (c == '\'') (' ', 1)
        else ('\'', 1)
      case '"' =>
        if (c == '\\' && i + 1 < text.length) ('"', 2)
        else if (c == '"') (' ', 1)
        else ('"', 1)
      case '`' => if (c == '`') (' ', 1) else ('`', 1) // `` toggles twice: stays inside
      case '-' => if (c == '\n') (' ', 1) else ('-', 1)
      case '*' => if (c == '*' && next == '/') (' ', 2) else ('*', 1)
    }
  }

  /** Split off the first statement at an unquoted, uncommented `;`.
    * Returns (Some(statement-without-;), remainder) or (None, input). */
  private[graft] def splitFirstStatement(text: String): (Option[String], String) = {
    var i = 0
    var state: Char = ' '
    while (i < text.length) {
      if (state == ' ' && text.charAt(i) == ';')
        return (Some(text.substring(0, i)), text.substring(i + 1))
      val (s2, adv) = scanStep(text, i, state)
      state = s2; i += adv
    }
    (None, text)
  }

  /** Pipe `text` through the pager (reference page_output, query.rs:180-211:
    * `less -S` — no truncation, horizontal scroll); on SPAWN failure warn
    * and fall back to plain printing so output is never lost. A write
    * failure after a successful spawn is the user quitting the pager
    * early (EPIPE on a table larger than the pipe buffer) — that output
    * was deliberately dismissed, so it is NOT re-printed. */
  private[graft] def pageOutput(text: String, out: PrintStream, cmd: Seq[String]): Unit = {
    val proc =
      try {
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        Some(pb.start())
      } catch { case e: Exception =>
        out.println(s"warning: failed to launch pager '${cmd.mkString(" ")}': ${e.getMessage}")
        out.print(text)
        None
      }
    proc.foreach { p =>
      try {
        val w = p.getOutputStream
        try w.write(text.getBytes("UTF-8")) finally w.close()
      } catch { case _: java.io.IOException => () } // pager quit early (EPIPE)
      p.waitFor()
    }
  }

  /** Shared view-name derivation for a table root (used by .open and the
    * CLI --table preload). */
  private[graft] def viewNameFor(root: String): String =
    java.nio.file.Paths.get(root).getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
}
