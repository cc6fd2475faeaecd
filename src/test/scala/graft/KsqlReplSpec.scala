package graft

import graft.ksql.{KsqlEngine, KsqlRepl}
import graft.streaming.Tutorial

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
import java.nio.charset.StandardCharsets

/** The front-door contract (reference README.md:30-33: the ksql-cli
  * prompt): piping the reference's own tutorial script through
  * [[KsqlRepl.run]] must execute every statement, survive the script's
  * intentionally-invalid query, and print the README's golden tables in
  * the CLI's fixed-width ASCII form (README.md:100-114, 298-304).
  */
class KsqlReplSpec extends SparkSpec {

  private def engine = new KsqlEngine(spark,
    connectorProvider = (s, _) => Tutorial.playersSeed(s))

  private def replay(script: String): (Int, String) = {
    val outBuf = new ByteArrayOutputStream()
    val out = new PrintStream(outBuf, true, "UTF-8")
    val n = KsqlRepl.run(engine, new BufferedReader(new StringReader(script)),
      out, interactive = false)
    (n, new String(outBuf.toByteArray, StandardCharsets.UTF_8))
  }

  test("all.sql pipes through the REPL end-to-end with golden tables") {
    // the tutorial script verbatim, plus the two interactive queries the
    // README has the user type at the prompt (README.md:98, 407-420)
    val script = TutorialScript.text +
      "\nSELECT * FROM players EMIT CHANGES;\n" +
      "SELECT * FROM player_stats EMIT CHANGES;\n"
    val (executed, outText) = replay(script)
    withClue(outText + "\nexecuted=" + executed + "\n") {
      assert(executed === 17) // every `;`-terminated statement ran

      // players golden (README.md:100-114): 28-wide cells, upper-cased
      // headers, CLI border shape
      assert(outText.contains(
        "+----------------------------+----------------------------+----------------------------+----------------------------+"))
      assert(outText.contains(
        "|ID                          |NAME                        |TEAM                        |NATIONALITY                 |"))
      assert(outText.contains(
        "|1                           |Lionel Messi                |Paris Saint-Germain         |Argentinian                 |"))
      assert(outText.contains(
        "|10                          |Raheem Sterling             |Chelsea                     |English                     |"))

      // home/away pivot at all.sql's insert state: 1->(1,1), 2->(0,0)
      // (KsqlTutorialSpec asserts the same state programmatically)
      assert(outText.contains(
        "|ID                          |HOME_GOALS                  |AWAY_GOALS                  |"))
      assert(outText.contains(
        "|1                           |1                           |1                           |"))
      assert(outText.contains(
        "|2                           |0                           |0                           |"))

      // player_stats final state (all.sql:129-160 CTAS with the
      // LATEST_BY_OFFSET fix): Messi (1, 0.5, 2), Ronaldo (1, 1.0, 0)
      assert(outText.contains(
        "|1                           |Lionel Messi                |Argentinian                 |1                           |0.5                         |2                           |"))
      assert(outText.contains(
        "|2                           |Cristiano Ronaldo           |Portuguese                  |1                           |1.0                         |0                           |"))

      // the intentionally-invalid push query (all.sql:100-125) errors the
      // way ksqlDB rejects it, and the session continues
      assert(outText.contains("Error: "))
      assert(outText.contains("MISSING_AGGREGATION"))
    }
  }

  test("streaming mode prints the emitted changelog, not just state") {
    val e = new graft.ksql.KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val outBuf = new ByteArrayOutputStream()
    val out = new PrintStream(outBuf, true, "UTF-8")
    val script =
      """CREATE STREAM repl_ev (id VARCHAR KEY, event_type VARCHAR,
        |  player_id VARCHAR, home boolean) WITH (KAFKA_TOPIC='repl_ev');
        |INSERT INTO repl_ev VALUES ('1', 'GOAL', '1', true);
        |INSERT INTO repl_ev VALUES ('1', 'GOAL', '2', false);
        |SELECT id, count(id) AS n FROM repl_ev GROUP BY id EMIT CHANGES;
        |INSERT INTO repl_ev VALUES ('1', 'SAVE', '3', true);
        |SELECT id, count(id) AS n FROM repl_ev GROUP BY id EMIT CHANGES;
        |""".stripMargin
    val n = try KsqlRepl.run(
      stmt => e.execute(stmt).map { h => h.processAllAvailable(); h.emissions },
      new BufferedReader(new StringReader(script)), out, interactive = false)
    finally e.stopAll()
    assert(n === 6)
    val txt = new String(outBuf.toByteArray, StandardCharsets.UTF_8)
    // first query's changelog converges at 2; the second (fresh stream
    // replay, all three inserts in its first batch) at 3
    assert(txt.contains(
      "|1                           |2                           |"))
    assert(txt.contains(
      "|1                           |3                           |"))
  }

  test("multi-line statements complete only at the semicolon") {
    val (n1, _) = replay("SHOW\n") // unterminated: never executes
    assert(n1 === 0)
    val (n2, outText) = replay("SHOW\nTOPICS\n;\n")
    assert(n2 === 1)
    assert(outText.contains("+--"))
  }

  test("exit stops the loop before later statements") {
    val (n, _) = replay("exit\nSHOW TOPICS;\n")
    assert(n === 0)
  }

  test("formatTable widens columns past 28 when a value overflows") {
    import spark.implicits._
    val wide = "x" * 40
    val txt = KsqlRepl.formatTable(Seq((wide, 1)).toDF("long_col", "n"))
    assert(txt.contains("|" + wide.padTo(41, ' ') + "|"))
    assert(txt.contains("|LONG_COL" + " " * 33 + "|"))
    assert(txt.contains("|1" + " " * 27 + "|"))
  }

  test("pendingSplit ignores semicolons inside quotes and comments") {
    val (done, rest) = KsqlRepl.pendingSplit(
      "SET 'a;b' = 'c'; -- trailing; comment\nSELECT 1")
    assert(done === Seq("SET 'a;b' = 'c'"))
    // the comment text stays in the remainder (splitStatements strips it
    // when the statement completes); only the `;`s inside it are inert
    assert(rest.endsWith("SELECT 1"))
  }
}
