package graft

import java.io.{BufferedReader, FileReader, PrintStream, Reader, StringReader}

import org.apache.spark.sql.SparkSession

/** `graft-sql` — the interactive CLI / driver loop over [[HiveQl.sql]]
  * (the reference's primary user entry point, `cli/CliDriver.java:76`):
  * a REPL with `;`-statement splitting that respects string literals and
  * `--` comments, command-processor lines (`SET k[=v]`, `ADD FILE`)
  * interleaved with queries, `SOURCE file.q`, and the two batch modes
  * `-f script.q` / `-e 'stmts'` (CliDriver's OptionsProcessor flags).
  *
  * Row output is Hive-CLI-shaped: tab-separated values, `NULL` for null,
  * no header, a `Time taken:` trailer per query (suppressed by `-S`,
  * HiveConf `hive.session.silent` analogue). Display is bounded by
  * `graft.cli.max.rows` (default 1000) — a CLI prints to a terminal, so
  * the bound is the driver-side contract, not a scalability hole; the
  * unbounded paths are INSERT/CTAS, which write distributed.
  *
  * `dfs` commands run through Hadoop's FsShell in-process (the reference's
  * DfsProcessor.java), `ADD JAR`/`LIST JARS` parse natively in Spark SQL
  * (jar shipped to executors + session resource loader — r10), and the
  * `!cmd` shell escape execs like CliDriver's processCmd — CLI-only, the
  * reference's own layering (Driver never sees `!`), so library and
  * Thrift entry points still cannot exec. Every CliDriver command
  * processor is now covered.
  */
object GraftSql {

  /** Split accumulated input into complete `;`-terminated statements plus
    * the trailing incomplete fragment. `;` inside single/double-quoted
    * literals (with backslash escapes, Hive string rules), inside
    * backtick-quoted identifiers (no escapes — mirrors
    * [[HiveQl]] maskLiterals), or after `--` on a line does not
    * terminate — `SELECT ';'` is one statement.
    */
  def splitStatements(buf: String): (Seq[String], String) = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var quote: Char = 0 // 0 = outside any literal/quoted identifier
    var lineComment = false
    while (i < buf.length) {
      val c = buf.charAt(i)
      if (lineComment) {
        cur += c
        if (c == '\n') lineComment = false
      } else if (quote != 0) {
        cur += c
        if (quote != '`' && c == '\\' && i + 1 < buf.length) {
          cur += buf.charAt(i + 1); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '-' if i + 1 < buf.length && buf.charAt(i + 1) == '-' =>
          lineComment = true; cur += c
        case ';' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    (out.result().map(_.trim).filter(stripComments(_).nonEmpty), cur.toString)
  }

  /** A statement that is only `--` comments and whitespace is a no-op. */
  private def stripComments(s: String): String =
    s.linesIterator.map { l =>
      val idx = l.indexOf("--")
      if (idx >= 0) l.substring(0, idx) else l
    }.mkString("\n").trim

  private def maxRows(spark: SparkSession): Int =
    spark.conf.getOption("graft.cli.max.rows").map(_.toInt).getOrElse(1000)

  /** Execute one statement; returns (keep-going, exit status). `${...}`
    * substitution happens in the session's statement path (Hive semantics,
    * all entry points); the CLI only pre-substitutes the `SOURCE` path so
    * `source ${hivevar:dir}/x.q` works. A `SOURCE`d script's exit status
    * (its own failing statements recover per-statement but mark failure)
    * surfaces in the second slot so the outer [[run]] exit code reflects it.
    */
  def process(spark: SparkSession, rawStmt: String, out: PrintStream,
      silent: Boolean): (Boolean, Int) = {
    val stmt = HiveQl.substituteVars(spark, rawStmt)
    val word = stmt.trim.toLowerCase
    if (word == "quit" || word == "exit") return (false, 0)
    if (stmt.trim.startsWith("!")) {
      // `!cmd` shell escape (CliDriver.java processCmd: Runtime.exec on the
      // rest of the line, output streamed to the console, nonzero exit =
      // statement failure). CLI-ONLY like the reference — Driver/HiveQl.sql
      // never see `!`, so library and Thrift entry points cannot exec.
      // Same tokenization as Runtime.exec(String): whitespace split, no
      // shell interpretation.
      val argv = stmt.trim.drop(1).trim.split("\\s+")
      val pb = new ProcessBuilder(argv: _*).redirectErrorStream(true)
      val proc = pb.start()
      val outStream = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = outStream.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = outStream.read(buf) }
      val code = proc.waitFor()
      out.flush()
      if (code != 0)
        throw new RuntimeException(s"Shell command failed (exit $code): $stmt")
      return (true, 0)
    }
    if (word.startsWith("dfs ")) {
      // DFS command processor (ref ql/processors/DfsProcessor.java:1 — the
      // Hive CLI runs `dfs -ls path` etc. through Hadoop's FsShell
      // in-process). FsShell prints to System.out/err; both are redirected
      // to the CLI stream for the command's duration so its output lands
      // with the session's other results. Nonzero shell status surfaces as
      // a statement failure (per-statement recovery applies, like any
      // failing query).
      val argv = stmt.trim.stripSuffix(";").trim.drop(3).trim.split("\\s+")
      val shell = new org.apache.hadoop.fs.FsShell(
        spark.sparkContext.hadoopConfiguration)
      val (oldOut, oldErr) = (System.out, System.err)
      System.setOut(out); System.setErr(out)
      val code =
        try shell.run(argv)
        finally { System.setOut(oldOut); System.setErr(oldErr); shell.close() }
      if (code != 0)
        throw new RuntimeException(s"DFS command failed (exit $code): $stmt")
      return (true, 0)
    }
    if (word.startsWith("source ")) {
      val path = stmt.trim.drop(7).trim.stripSuffix(";").trim
      val reader = new BufferedReader(new FileReader(path))
      // a `quit` INSIDE the sourced script ends the whole session, not just
      // the script (CliDriver.processFile shares the session's exit flag) —
      // so the script's liveness rides back in the keep-going slot
      val (code, live) =
        try runWithLiveness(spark, reader, out, interactive = false, silent = silent)
        finally reader.close()
      return (live, code)
    }
    val t0 = System.nanoTime()
    // implicit concurrency locks for the statement's scope (Driver.run's
    // acquire → execute → release-in-finally; no-op unless
    // hive.support.concurrency=true)
    Locks.withStatementLocks(spark, stmt) {
      val df = HiveQl.sql(spark, stmt)
      if (df.schema.nonEmpty) {
        val n = maxRows(spark)
        // hive.cli.print.header (CliDriver.processLocalCmd → printHeader):
        // a tab-joined column-name line ahead of the rows (print_header.q)
        if (spark.conf.getOption("hive.cli.print.header")
            .exists(_.trim.equalsIgnoreCase("true")))
          out.println(df.schema.fieldNames.mkString("\t"))
        val rows = df.take(n + 1)
        rows.take(n).foreach { r =>
          out.println((0 until r.length)
            .map(i => if (r.isNullAt(i)) "NULL" else r.get(i).toString)
            .mkString("\t"))
        }
        if (rows.length > n)
          out.println(s"-- display truncated at $n rows (graft.cli.max.rows)")
      }
    }
    if (!silent)
      out.println(f"Time taken: ${(System.nanoTime() - t0) / 1e9}%.3f seconds")
    (true, 0)
  }

  /** The driver loop: accumulate lines, execute each completed statement.
    * A statement that fails prints the error and the loop CONTINUES —
    * CliDriver's per-statement error handling; the returned exit code is
    * nonzero iff any statement (including inside a `SOURCE`d script) failed.
    */
  def run(spark: SparkSession, in: BufferedReader, out: PrintStream,
      interactive: Boolean, silent: Boolean): Int =
    runWithLiveness(spark, in, out, interactive, silent)._1

  /** As [[run]], plus whether the session is still alive afterwards (false
    * once `quit`/`exit` executed) — the signal a `SOURCE` caller needs to
    * end the OUTER session the way CliDriver's shared exit flag does.
    */
  def runWithLiveness(spark: SparkSession, in: BufferedReader, out: PrintStream,
      interactive: Boolean, silent: Boolean): (Int, Boolean) = {
    var exit = 0
    var buf = ""
    var alive = true
    if (interactive) out.print("graft> ")
    var line = in.readLine()
    while (alive && line != null) {
      // a bare `quit`/`exit` line ends the session without needing `;`
      // (CliDriver trims and matches the line before splitting)
      if (buf.trim.isEmpty &&
          Set("quit", "exit").contains(line.trim.toLowerCase.stripSuffix(";")))
        return (exit, false)
      buf = if (buf.isEmpty) line else buf + "\n" + line
      val (stmts, rest) = splitStatements(buf)
      buf = rest
      stmts.foreach { s =>
        if (alive) {
          try {
            val (cont, code) = process(spark, s, out, silent)
            alive = cont
            if (code != 0) exit = code
          } catch { case e: Exception =>
            out.println(s"FAILED: ${e.getMessage}")
            exit = 1
          }
        }
      }
      if (alive) {
        if (interactive) out.print(if (buf.trim.isEmpty) "graft> " else "     > ")
        line = in.readLine()
      }
    }
    // EOF with a dangling unterminated statement: run it (CliDriver -f
    // semantics — the final `;` is optional in scripts)
    if (alive && stripComments(buf).nonEmpty) {
      try {
        val (cont, code) = process(spark, buf, out, silent)
        alive = cont
        if (code != 0) exit = code
      }
      catch { case e: Exception => out.println(s"FAILED: ${e.getMessage}"); exit = 1 }
    }
    (exit, alive)
  }

  def main(args: Array[String]): Unit = {
    var script: Option[String] = None
    var inline: Option[String] = None
    var dataDir: Option[String] = None
    var silent = false
    val confs = Seq.newBuilder[(String, String)]
    val hivevars = Seq.newBuilder[(String, String)]
    val initFiles = Seq.newBuilder[String]
    def kv(s: String): (String, String) = s.split("=", 2) match {
      case Array(k, v) => k -> v
      case _ => throw new IllegalArgumentException(s"expected key=value, got $s")
    }
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-f" => script = Some(args(i + 1)); i += 1
        case "-e" => inline = Some(args(i + 1)); i += 1
        case "--data" => dataDir = Some(args(i + 1)); i += 1
        case "-S" => silent = true
        // OptionsProcessor.java:69-134 — --hiveconf sets session conf,
        // -d/--define/--hivevar set substitution variables, -i runs init
        // scripts silently before the main input (CliDriver.java:453,631)
        case "--hiveconf" => confs += kv(args(i + 1)); i += 1
        case "-d" | "--define" | "--hivevar" => hivevars += kv(args(i + 1)); i += 1
        case "-i" => initFiles += args(i + 1); i += 1
        case other => throw new IllegalArgumentException(
          "usage: graft-sql [-f script.q | -e 'stmts'] [--data sfDir] [-S] " +
            s"[--hiveconf k=v] [-d|--define|--hivevar k=v] [-i init.q]; got $other")
      }
      i += 1
    }
    val spark = Sessions.get("graft-sql")
    spark.sparkContext.setLogLevel("WARN")
    confs.result().foreach { case (k, v) => spark.conf.set(k, v) }
    hivevars.result().foreach { case (k, v) => spark.conf.set("hivevar:" + k, v) }
    dataDir.foreach(Tables.registerAll(spark, _))
    initFiles.result().foreach { f =>
      val r = new BufferedReader(new FileReader(f))
      try run(spark, r, System.out, interactive = false, silent = true)
      finally r.close()
    }
    val reader: Reader = (script, inline) match {
      case (Some(f), _) => new FileReader(f)
      case (_, Some(s)) => new StringReader(s)
      case _ => new java.io.InputStreamReader(System.in)
    }
    val interactive = script.isEmpty && inline.isEmpty
    val code = run(spark, new BufferedReader(reader), System.out, interactive, silent)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
