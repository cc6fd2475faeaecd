package graft.ksql

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader, PrintStream}

/** The front door: an interactive KSQL prompt over [[KsqlEngine]] — the
  * engine's analogue of the reference's CLI plane (`ksql-cli` connecting
  * to the ksqlDB server, reference README.md:30-33,
  * files/ksqldb-server/ksql-server.properties:1). A user replays the
  * tutorial by typing the same statements they type at the ksqlDB prompt;
  * query results render as the README's fixed-width ASCII tables
  * (README.md:100-114).
  *
  * Execution semantics are [[KsqlEngine]]'s batch re-evaluation: a push
  * query prints the CONVERGED state a ksqlDB push query would have
  * emitted last — exactly the states the README's golden tables show.
  * The live-changelog form of the same queries runs on the Structured
  * Streaming engine ([[KsqlStreamingEngine]]).
  *
  * Statements terminate with `;` and may span lines; `--` comments are
  * dialect ([[KsqlParser.splitStatements]]). `exit` / `quit` leaves.
  * Errors print and the session continues, as in the reference CLI (the
  * tutorial script itself contains one intentionally-invalid query,
  * all.sql:100-125).
  *
  * Connector resolution ([[interactiveSession]]): `CREATE SOURCE
  * CONNECTOR` uses the real JDBC provider when `GRAFT_REPL_JDBC=1` (the
  * reference's Connect-to-MySQL path, needs a reachable database); by
  * default it binds the tutorial's 10-row players seed
  * ([[graft.streaming.Tutorial.playersSeed]], init.sql:11-22) so
  * `all.sql` replays standalone.
  */
object KsqlRepl {

  /** ksqlDB CLI table rendering: `+`-cornered dashed borders, every cell
    * left-padded into a fixed-width column (README.md:100-114 — 28 chars
    * in the reference; widened only when a header or value overflows).
    */
  def formatTable(df: DataFrame, minWidth: Int = 28): String = {
    val headers = df.columns.map(_.toUpperCase)
    val rows = df.collect().map(_.toSeq.map {
      case null => "null"
      case v => v.toString
    })
    val widths = headers.indices.map { i =>
      (minWidth +: (headers(i).length + 1) +:
        rows.map(r => r(i).length + 1).toSeq).max
    }
    def border = widths.map("-" * _).mkString("+", "+", "+")
    def line(cells: Seq[String]) =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("|", "|", "|")
    (Seq(border, line(headers.toSeq), border) ++
      rows.map(r => line(r.map(_.toString))) :+ border).mkString("\n")
  }

  /** One read-eval-print pass over `in`, isolated from session/stream
    * construction so tests drive it directly. Returns the number of
    * statements executed.
    */
  def run(engine: KsqlEngine, in: BufferedReader, out: PrintStream,
      interactive: Boolean): Int =
    run(stmt => engine.execute(stmt), in, out, interactive)

  /** Engine-agnostic loop: `exec` is the batch engine's converged-state
    * evaluation or the streaming engine's changelog drain — the REPL only
    * owns statement framing and rendering.
    */
  def run(exec: KsqlStatement => Option[DataFrame], in: BufferedReader,
      out: PrintStream, interactive: Boolean): Int = {
    var executed = 0
    val buf = new StringBuilder
    var done = false
    while (!done) {
      if (interactive) {
        out.print(if (buf.isEmpty) "ksql> " else "    > ")
        out.flush() // no trailing newline — autoflush won't fire
      }
      val lineIn = in.readLine()
      if (lineIn == null) done = true
      else {
        val trimmed = lineIn.trim
        if (buf.isEmpty &&
            Set("exit", "quit", "exit;", "quit;")(trimmed.toLowerCase))
          done = true
        else {
          buf.append(lineIn).append('\n')
          // complete statements end with `;` outside quotes/comments:
          // re-split the whole buffer and keep any unterminated tail
          val (stmts, rest) = pendingSplit(buf.result())
          if (stmts.nonEmpty) {
            buf.clear(); buf.append(rest)
            stmts.foreach { s =>
              try {
                exec(KsqlParser.parse(s)) match {
                  case Some(df) => out.println(formatTable(df))
                  case None => // DDL/INSERT: silent success, like the CLI's
                               // terse acks — keeps piped output golden-clean
                }
              } catch {
                case e: Exception => out.println(s"Error: ${e.getMessage}")
              }
              executed += 1
            }
          }
        }
      }
    }
    executed
  }

  /** Split `script` into its COMPLETE (`;`-terminated) statements plus
    * the unterminated remainder — [[KsqlParser.splitStatements]] would
    * swallow the trailing fragment as a statement, which is wrong for a
    * prompt where the user is still typing it.
    */
  private[graft] def pendingSplit(script: String): (Seq[String], String) = {
    // find the last statement-terminating `;` with the parser's own
    // quote/comment rules, then let the parser split the complete prefix
    var i = 0; var inQuote = false; var lastSemi = -1
    while (i < script.length) {
      val c = script.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false; i += 1 }
      else if (c == '\'') { inQuote = true; i += 1 }
      else if (c == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') {
        while (i < script.length && script.charAt(i) != '\n') i += 1
      } else if (c == ';') { lastSemi = i; i += 1 }
      else i += 1
    }
    if (lastSemi < 0) (Seq.empty, script)
    else (KsqlParser.splitStatements(script.substring(0, lastSemi + 1)),
      script.substring(lastSemi + 1))
  }

  /** The session and connector provider both interactive mains run on
    * (this REPL and [[KsqlServer]]): `CREATE SOURCE CONNECTOR` uses the
    * real JDBC provider when `GRAFT_REPL_JDBC=1`, else the tutorial's
    * players seed.
    */
  private[ksql] def interactiveSession(appName: String)
      : (SparkSession, (SparkSession, Map[String, String]) => DataFrame) = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val provider =
      if (sys.env.get("GRAFT_REPL_JDBC").contains("1"))
        KsqlEngine.jdbcConnectorProvider _
      else (s: SparkSession, _: Map[String, String]) =>
        graft.streaming.Tutorial.playersSeed(s)
    (spark, provider)
  }

  def main(args: Array[String]): Unit = {
    val (spark, provider) = interactiveSession("graft-ksql")
    val interactive = System.console() != null
    if (interactive)
      println("graft ksql — statements end with ';', 'exit' leaves")
    val in = new BufferedReader(new InputStreamReader(System.in))
    // GRAFT_REPL_ENGINE=streaming runs push queries as live Structured
    // Streaming jobs and prints the emitted CHANGELOG (every update since
    // the query started) instead of the batch engine's converged state
    if (sys.env.get("GRAFT_REPL_ENGINE").contains("streaming")) {
      // GRAFT_CONNECTOR_POLL_MS=<n> makes `mode=incrementing` connectors
      // POLL continuously (a rate-source tick every n ms) — database
      // inserts reach running push queries, the reference's live-Connect
      // behavior. Unset = snapshot connectors, as before.
      val live = sys.env.get("GRAFT_CONNECTOR_POLL_MS").map { msStr =>
        val ms = msStr.toLong
        require(ms > 0, s"GRAFT_CONNECTOR_POLL_MS must be positive: $msStr")
        // cadence comes from the TRIGGER (pollEveryMs), not the tick row
        // rate — one poll per micro-batch regardless of rows per batch
        LivePolling(
          () => spark.readStream.format("rate")
            .option("rowsPerSecond", 1).load(),
          java.nio.file.Files.createTempDirectory("graft_repl_live").toString,
          pollEveryMs = Some(ms))
      }
      val engine = new KsqlStreamingEngine(spark,
        connectorProvider = provider, livePolling = live)
      try run(engine.executeDrained _, in, System.out, interactive)
      finally engine.stopAll()
    } else {
      val engine = new KsqlEngine(spark, connectorProvider = provider)
      run(engine, in, System.out, interactive)
    }
    spark.stop()
  }
}
