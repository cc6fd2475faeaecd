package graft

import graft.ksql.{KsqlEngine, PushQuery, StatementResult}
import graft.streaming.Tutorial
import org.apache.spark.sql.Row

/** Acceptance: the engine executes the reference's OWN KSQL script
  * ([[TutorialScript]], the committed `all.sql`) end-to-end, plus the
  * README's player_stats query over the canonical insert sequence, and
  * reproduces the golden outputs.
  */
class KsqlTutorialSpec extends SparkSpec {

  private def engine = new KsqlEngine(spark,
    connectorProvider = (s, _) => Tutorial.playersSeed(s))

  test("the committed all.sql is the reference's own where that is present") {
    val original = java.nio.file.Paths.get("/root/reference/files/ksqldb-cli/all.sql")
    if (java.nio.file.Files.exists(original))
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(original),
        TutorialScript.bytes),
        "src/test/resources/reference/all.sql differs from the reference's " +
          "all.sql: replace the reconstruction with the original")
  }

  test("the reference's all.sql runs end-to-end with correct states") {
    val e = engine
    val results = e.executeScript(TutorialScript.text)
    val queries = results.collect {
      case StatementResult(PushQuery(_, _), Some(df), None) => df
    }
    // all.sql contains 5 push queries; the 5th (all.sql:100-125) selects
    // p.name while grouping only by p.id — invalid in ksqlDB too (the
    // tutorial then fixes it with LATEST_BY_OFFSET in the CTAS). The
    // engine must reject it the same way and keep executing.
    assert(queries.length === 4)
    val errors = results.filter(_.error.isDefined)
    assert(errors.size === 1)
    assert(errors.head.error.get.contains("MISSING_AGGREGATION"))

    // Q1 (after 1 insert): SELECT * over mep LEFT JOIN players -> 1 row,
    // ksqlDB-style alias-prefixed star columns
    val q1 = queries(0)
    assert(q1.columns.toSeq === Seq("MEP_ID", "MEP_EVENT_TYPE", "MEP_PLAYER_ID",
      "P_ID", "P_NAME", "P_TEAM", "P_NATIONALITY"))
    assert(q1.collect().toSeq === Seq(Row("1", "GOAL", "1",
      "1", "Lionel Messi", "Paris Saint-Germain", "Argentinian")))

    // Q2 (after 1 insert): left-join grouped count
    assert(queries(1).collect().toSeq ===
      Seq(Row("1", "Lionel Messi", "Argentinian", 1L)))

    // Q3 (after all 4 inserts): home/away pivot
    val q3 = queries(2).orderBy("ID").collect().toSeq
    assert(q3 === Seq(Row("1", 1L, 1L), Row("2", 0L, 0L)))

    // Q4: inner join + count, GOAL only
    val q4 = queries(3).orderBy("ID").collect().toSeq
    assert(q4 === Seq(
      Row("1", "Lionel Messi", "Argentinian", 1L),
      Row("2", "Cristiano Ronaldo", "Portuguese", 1L)))

    // the CTAS (with the LATEST_BY_OFFSET fix, all.sql:129-160) registered
    // player_stats as a queryable table: goals / avg_goals / assists
    val stats = e.execute("SELECT * FROM player_stats EMIT CHANGES;").get
      .orderBy("PLAYER_ID").collect().toSeq
    assert(stats === Seq(
      Row("1", "Lionel Messi", "Argentinian", 1L, 0.5, 2L),
      Row("2", "Cristiano Ronaldo", "Portuguese", 1L, 1.0, 0L)))
  }

  test("README canonical sequence reproduces the Messi/Ronaldo golden") {
    val e = engine
    e.execute("SET 'auto.offset.reset' = 'earliest';")
    e.execute("""CREATE SOURCE CONNECTOR c WITH (
      'table.whitelist' = 'players', 'key' = 'id');""")
    e.execute("""CREATE TABLE players (
      ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
      nationality VARCHAR(50))
      WITH (KAFKA_TOPIC = 'players', VALUE_FORMAT = 'JSON', PARTITIONS = 1);""")
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event', VALUE_FORMAT='JSON', PARTITIONS=1);""")
    Tutorial.canonicalEvents.foreach { ev =>
      e.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }
    // the README's big query (README.md:379-405) verbatim constructs
    val golden = e.execute("""SELECT p.id AS player_id,
         p.name AS name,
         p.nationality AS nationality,
         SUM(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
         CAST(SUM(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END)
             AS DOUBLE) / cast(COUNT_DISTINCT((me.id)) AS DOUBLE) avg_goals,
         SUM(CASE WHEN me.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
      FROM match_event me
               JOIN players p
                    ON p.id = me.player_id
      GROUP BY p.id, p.name, p.nationality
      EMIT CHANGES;""").get
    assert(golden.columns.toSeq === Seq("PLAYER_ID", "NAME", "NATIONALITY",
      "GOALS", "AVG_GOALS", "ASSISTS"))
    assert(golden.orderBy("PLAYER_ID").collect().toSeq === Seq(
      Row("1", "Lionel Messi", "Argentinian", 3L, 1.5, 1L),
      Row("2", "Cristiano Ronaldo", "Portuguese", 2L, 1.0, 1L)))
  }

  test("KSQL windowed aggregations: TUMBLING, HOPPING, SESSION, ROWTIME") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    Tutorial.canonicalEvents.foreach { ev =>
      e.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }
    // record timestamps: base + 1s per offset; match 1 = offsets 0-3,
    // match 2 = offsets 4-6
    val base = 1577836800000L
    val tumb = e.execute(
      """SELECT id, WINDOWSTART ws, COUNT(id) n FROM match_event
        WINDOW TUMBLING (SIZE 2 SECONDS) GROUP BY id EMIT CHANGES;""").get
      .orderBy("ID", "WS").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(tumb.toSeq === Seq(
      ("1", base, 2L), ("1", base + 2000, 2L),
      ("2", base + 4000, 2L), ("2", base + 6000, 1L)))
    val hop = e.execute(
      """SELECT id, WINDOWSTART ws, COUNT(id) n FROM match_event
        WINDOW HOPPING (SIZE 4 SECONDS, ADVANCE BY 2 SECONDS)
        GROUP BY id EMIT CHANGES;""").get
      .orderBy("ID", "WS").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hop.toSeq === Seq(
      ("1", base - 2000, 2L), ("1", base, 4L), ("1", base + 2000, 2L),
      ("2", base + 2000, 2L), ("2", base + 4000, 3L), ("2", base + 6000, 1L)))
    val sess = e.execute(
      """SELECT id, COUNT(id) n FROM match_event
        WINDOW SESSION (2 SECONDS) GROUP BY id EMIT CHANGES;""").get
      .orderBy("ID").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sess.toSeq === Seq(("1", 4L), ("2", 3L)))
    val rt = e.execute(
      "SELECT id, ROWTIME rt FROM match_event EMIT CHANGES;").get
      .orderBy("RT").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rt.head === (("1", base)))
    assert(rt.last === (("2", base + 6000)))
  }

  test("full ksqlDB DDL type surface: ARRAY / MAP / STRUCT / DECIMAL") {
    val e = engine
    e.execute("""CREATE STREAM rich (
      id VARCHAR KEY, tags ARRAY<VARCHAR>, attrs MAP<VARCHAR, INT>,
      loc STRUCT<lat DOUBLE, lon DOUBLE>, price DECIMAL(10, 2))
      WITH (KAFKA_TOPIC='rich');""")
    val desc = e.execute("DESCRIBE rich;").get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("TAGS") === "ARRAY<STRING>")
    assert(desc("ATTRS") === "MAP<STRING, INT>")
    assert(desc("LOC").replaceAll("\\s+", " ") === "STRUCT<lat: DOUBLE, lon: DOUBLE>")
    assert(desc("PRICE") === "DECIMAL(10,2)")
    // complex literals INSERT and round-trip through a query
    e.execute("""INSERT INTO rich VALUES ('a', ARRAY['x', 'y'],
      MAP('k' := 1, 'k2' := 2), STRUCT(lat := 1.5, lon := 2.5), 12.34);""")
    val row = e.execute(
      "SELECT id, tags, attrs, loc, price FROM rich EMIT CHANGES;").get
      .collect().head
    assert(row.getSeq[String](1) === Seq("x", "y"))
    assert(row.getMap[String, Int](2) === Map("k" -> 1, "k2" -> 2))
    assert(row.getStruct(3) === Row(1.5, 2.5))
    assert(row.getDecimal(4) === new java.math.BigDecimal("12.34"))
  }

  test("lifecycle: PRINT, DROP, TERMINATE manage collections and queries") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('1', 'GOAL', '9', true);")
    // PRINT shows the raw topic log (offsets + record times included)
    val printed = e.execute("PRINT 'match_event' FROM BEGINNING;").get
    assert(printed.count() === 1)
    assert(printed.columns.contains("_offset"))
    // a CTAS is a persistent query; SHOW QUERIES lists it, TERMINATE
    // removes it
    e.execute("""CREATE TABLE goals WITH (KAFKA_TOPIC='goals') AS
      SELECT id, COUNT(id) n FROM match_event GROUP BY id;""")
    assert(e.execute("SELECT * FROM goals EMIT CHANGES;").get.count() === 1)
    val queries = e.execute("SHOW QUERIES;").get.collect()
    assert(queries.map(_.getString(0)).toSeq === Seq("goals"))
    // a collection with a live dependent query cannot be dropped
    val dep = intercept[IllegalArgumentException] {
      e.execute("DROP STREAM match_event;")
    }
    assert(dep.getMessage.contains("goals"))
    e.execute("TERMINATE goals;")
    assert(e.execute("SHOW QUERIES;").get.count() === 0)
    intercept[Exception] { e.execute("SELECT * FROM goals EMIT CHANGES;").get.count() }
    // DROP enforces collection kind and existence
    intercept[IllegalArgumentException] { e.execute("DROP TABLE match_event;") }
    e.execute("DROP STREAM match_event;")
    e.execute("DROP STREAM IF EXISTS match_event;") // idempotent with IF EXISTS
    intercept[NoSuchElementException] { e.execute("DROP STREAM match_event;") }
  }

  test("malformed statements fail with clear errors, not silent defaults") {
    val e = engine
    intercept[IllegalArgumentException] {
      e.execute("FROB THE TOPIC;")
    }
    intercept[IllegalArgumentException] {
      e.execute("CREATE STREAM s1 (p DECIMAL(abc)) WITH (KAFKA_TOPIC='s1');")
    }
    intercept[IllegalArgumentException] {
      e.execute("CREATE STREAM s2 (g GEOMETRY) WITH (KAFKA_TOPIC='s2');")
    }
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    val err = intercept[IllegalArgumentException] {
      e.execute("""SELECT COUNT(id) FROM match_event
        WINDOW TUMBLING (SIZE 2 SECONDS) EMIT CHANGES;""")
    }
    assert(err.getMessage.contains("GROUP BY"))
  }

  test("token rewrites never touch string literals") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('LEN(x)', 'ROWTIME', '9', true);")
    val row = e.execute(
      """SELECT id, event_type FROM match_event
        WHERE id = 'LEN(x)' AND event_type = 'ROWTIME' EMIT CHANGES;""").get
      .collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("LEN(x)", "ROWTIME")))
  }

  test("translator edge cases: quoted-arg calls, star variants, literal " +
      "FROM/GROUP BY never take a splice, typo'd INSERT columns throw") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('1', 'GOAL', '9', true);")
    // STRINGTOTIMESTAMP's standard TWO-ARG form (quoted format string):
    // the segment-by-quote rewrite could never cross the literal, so the
    // call used to reach Spark untranslated and fail as undefined
    val ts = e.execute(
      """SELECT STRINGTOTIMESTAMP('2021-03-01 07:30:00',
        'yyyy-MM-dd HH:mm:ss') AS ms FROM match_event EMIT CHANGES;""")
      .get.collect().head.getLong(0)
    assert(ts === java.sql.Timestamp.valueOf("2021-03-01 07:30:00").getTime)
    // SELECT *, expr — the internal _offset/_rowtime columns must NOT
    // leak through Spark's native star over the registered view
    val star = e.execute(
      "SELECT *, UCASE(event_type) AS u FROM match_event EMIT CHANGES;").get
    assert(star.columns.map(_.toLowerCase).toSet ===
      Set("id", "event_type", "player_id", "home", "u"))
    // alias.* likewise
    val aliasStar = e.execute(
      "SELECT m.* FROM match_event m EMIT CHANGES;").get
    assert(aliasStar.columns.map(_.toLowerCase).toSet ===
      Set("id", "event_type", "player_id", "home"))
    // a literal containing 'FROM <word>' before the real FROM must not
    // take the derived-stream offset splice (it corrupted the literal
    // and dropped _offset), and a literal 'GROUP BY' must not suppress
    // injection — LATEST_BY_OFFSET downstream proves _offset arrived
    e.execute("""CREATE STREAM noted AS
      SELECT 'copied FROM players GROUP BY x' AS note, id, player_id
      FROM match_event;""")
    e.execute("INSERT INTO match_event VALUES ('2', 'GOAL', '7', false);")
    val derived = e.execute(
      """SELECT note, LATEST_BY_OFFSET(id) AS last_id FROM noted
        GROUP BY note EMIT CHANGES;""").get.collect()
    assert(derived.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("copied FROM players GROUP BY x", "2")))
    // a typo'd INSERT column is an error, not a silent all-null row
    // (the streaming plane already threw; the planes must agree)
    val err = intercept[IllegalArgumentException] {
      e.execute("INSERT INTO match_event (vlaue) VALUES ('5');")
    }
    assert(err.getMessage.contains("unknown column"))
  }

  test("EXPLAIN returns the Spark physical plan for a KSQL query") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('1', 'GOAL', '9', true);")
    val plan = e.execute(
      "EXPLAIN SELECT id, COUNT(id) FROM match_event GROUP BY id EMIT CHANGES;")
      .get.collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("HashAggregate"))
  }

  test("ksqlDB scalar-function spellings translate (LCASE, LEN, IFNULL, ...)") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('1', 'GOAL', '9', true);")
    val row = e.execute(
      """SELECT LCASE(event_type) lc, UCASE(event_type) uc,
        LEN(event_type) n, IFNULL(player_id, 'none') pid
        FROM match_event EMIT CHANGES;""").get.collect().head
    assert(row === Row("goal", "GOAL", 4, "9"))
  }

  test("pipeline kernels are callable from the KSQL dialect (graft_* functions)") {
    // the two halves of the library meet: a KSQL-text query can invoke the
    // native dedup/similarity kernels, so a reference user gets the
    // training-data operators through the SAME statement surface
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    e.execute("INSERT INTO match_event VALUES ('1', 'GOAL SCORED NOW', '9', true);")
    e.execute("INSERT INTO match_event VALUES ('2', 'GOAL SCORED NOW', '9', true);")
    e.execute("INSERT INTO match_event VALUES ('3', 'KICKOFF', '9', true);")
    val rows = e.execute(
      """SELECT id, graft_simhash64(SPLIT(LCASE(event_type), ' ')) fp,
        graft_rolling_fingerprint(event_type) rfp
        FROM match_event EMIT CHANGES;""").get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val byId = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("1") === byId("2"))      // identical text → identical prints
    assert(byId("1") !== byId("3"))      // different text → different prints
    // and the kernel agrees with the Scala-side expression API
    val direct = graft.functions.Kernels.simhash64(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Seq("goal", "scored", "now").map(
          org.apache.spark.unsafe.types.UTF8String.fromString)))
    assert(byId("1")._1 === direct)
  }

  test("count-min sketch aggregate is callable from the KSQL dialect") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    Tutorial.canonicalEvents.foreach { ev =>
      e.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }
    // the sketch estimate can only over-count, so est(GOAL) >= exact(GOAL);
    // at 7 events into a 4x64 grid the estimate is almost surely exact,
    // but the asserted contract is the sketch's own (>=)
    val exact = Tutorial.canonicalEvents.count(_.event_type == "GOAL")
    val row = e.execute(
      """SELECT graft_count_min(event_type, 'GOAL,KICKOFF', 4, 64) cm
        FROM match_event EMIT CHANGES;""").get.collect().head
    val ests = row.getSeq[Row](0).map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(ests("GOAL") >= exact)
    assert(ests.keySet === Set("GOAL", "KICKOFF"))
  }

  test("KSQL HAVING / ORDER BY / LIMIT pass through to Catalyst") {
    val e = engine
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    Tutorial.canonicalEvents.foreach { ev =>
      e.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }
    val having = e.execute(
      """SELECT player_id, COUNT(id) n FROM match_event
        WHERE event_type = 'GOAL' GROUP BY player_id
        HAVING COUNT(id) >= 2 EMIT CHANGES;""").get
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(having.toSet === Set(("1", 3L), ("2", 2L)))
    val limited = e.execute(
      """SELECT player_id, COUNT(id) n FROM match_event
        GROUP BY player_id ORDER BY n DESC, player_id LIMIT 1
        EMIT CHANGES;""").get
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(limited.toSeq === Seq(("1", 4L)))
  }

  test("UCASE / projections / filters / upsert semantics via KSQL text") {
    val e = engine
    e.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');")
    e.execute("""CREATE TABLE players (
      ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
      nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""")
    // SELECT * over the table: 10 rows (README.md:100-114)
    assert(e.execute("SELECT * FROM players EMIT CHANGES;").get.count() === 10)
    // UCASE + alias (README.md:128-133)
    val uc = e.execute(
      "SELECT name, UCASE(team) team FROM players EMIT CHANGES;").get
    assert(uc.filter(uc("NAME") === "Kevin De Bruyne").collect().head ===
      Row("Kevin De Bruyne", "MANCHESTER CITY"))
    // WHERE equality + AND (README.md:150-163)
    assert(e.execute(
      "SELECT * FROM players WHERE team = 'Manchester City' EMIT CHANGES;")
      .get.count() === 2)
    assert(e.execute(
      """SELECT name FROM players
         WHERE team = 'Paris Saint-Germain' AND nationality = 'French'
         EMIT CHANGES;""").get.collect().toSeq === Seq(Row("Kylian Mbappe")))
    // SHOW surfaces (README.md:64-72)
    assert(e.execute("SHOW TOPICS;").get.collect().map(_.getString(0)).toSeq
      === Seq("players"))
    assert(e.execute("SHOW TABLES;").get.count() === 1)
    // DESCRIBE lists declared columns, types, and the key marker
    val desc = e.execute("DESCRIBE players;").get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(desc.toSeq === Seq(
      ("ID", "STRING", "PRIMARY KEY"), ("NAME", "STRING", ""),
      ("TEAM", "STRING", ""), ("NATIONALITY", "STRING", "")))
  }
}
