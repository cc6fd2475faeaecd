package graft

import graft.ksql.KsqlEngine
import graft.streaming.Tutorial
import org.apache.spark.sql.{DataFrame, Row}

/** The batch plane's view model: views are registered by DDL, once, and
  * a query binds its plan to its topics' rows as they stand at
  * `execute`.
  */
class KsqlEngineSpec extends SparkSpec {

  private def engine = new KsqlEngine(spark,
    connectorProvider = (s, _) => Tutorial.playersSeed(s))

  /** The tutorial's shape: a connector-fed TABLE, a STREAM, a CSAS
    * re-keyed by PARTITION BY, the CTASs over it, and a windowed CTAS.
    */
  private val ddl = Seq(
    "CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');",
    """CREATE TABLE players (ID VARCHAR PRIMARY KEY, name VARCHAR(50),
      team VARCHAR(50), nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""",
    """CREATE STREAM match_event (id VARCHAR KEY, event_type VARCHAR,
      player_id VARCHAR, home BOOLEAN) WITH (KAFKA_TOPIC = 'match_event');""",
    """CREATE STREAM match_event_player AS
      SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;""",
    """CREATE TABLE match_results AS SELECT id,
      SUM(CASE WHEN home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS home_goals,
      SUM(CASE WHEN NOT home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS away_goals
      FROM match_event GROUP BY id;""",
    """CREATE TABLE player_stats AS SELECT p.id AS player_id,
      LATEST_BY_OFFSET(p.name) AS player_name,
      SUM(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals,
      COUNT_DISTINCT(mep.id) AS matches, COUNT(*) AS events
      FROM match_event_player mep JOIN players p ON p.id = mep.player_id
      GROUP BY p.id;""",
    """CREATE TABLE events_per_minute AS SELECT id, COUNT(*) AS events
      FROM match_event WINDOW TUMBLING (SIZE 60 SECONDS) GROUP BY id;""")

  private def insert(e: KsqlEngine, id: String, kind: String, player: String,
      home: Boolean): Unit =
    e.execute(s"INSERT INTO match_event VALUES ('$id', '$kind', '$player', $home);")

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Every temp view's catalog entry, by name: a re-registration replaces
    * the entry even when the plan is the same.
    */
  private def viewEntries: Map[String, AnyRef] = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    catalog.getTempViewNames().map(n => n -> (catalog.getRawTempView(n).get: AnyRef)).toMap
  }

  test("reads register no view: SELECT, EXPLAIN, DESCRIBE and PRINT between INSERTs") {
    val e = engine
    ddl.foreach(e.execute)
    val before = viewEntries
    assert(Set("players", "match_event", "match_event_player", "match_results",
      "player_stats", "events_per_minute").subsetOf(before.keySet))
    val reads = Seq(
      "SELECT * FROM player_stats EMIT CHANGES;",
      "SELECT * FROM player_stats WHERE player_id = '1' EMIT CHANGES;",
      "SELECT * FROM match_results EMIT CHANGES;",
      "SELECT * FROM events_per_minute EMIT CHANGES;")
    (0 until 10).foreach { i =>
      insert(e, s"m${i % 3}", if (i % 2 == 0) "GOAL" else "ASSIST", s"${1 + i % 4}", i % 3 == 0)
      assert(e.execute(reads(i % reads.size)).get.collect().nonEmpty)
    }
    e.execute("EXPLAIN SELECT * FROM player_stats EMIT CHANGES;").get.collect()
    e.execute("DESCRIBE player_stats;").get.collect()
    e.execute("PRINT 'match_event' FROM BEGINNING;").get.collect()
    val after = viewEntries
    assert(after.keySet === before.keySet)
    before.foreach { case (n, entry) =>
      assert(after(n) eq entry, s"view $n was registered again by a read")
    }
    // and the reads saw every INSERT: 10 events over 3 matches
    assert(e.execute("SELECT SUM(events) FROM events_per_minute;").get
      .collect().head.getLong(0) === 10L)
  }

  test("a query's result is the state at execute, however late it is collected") {
    val e = engine
    ddl.foreach(e.execute)
    insert(e, "m1", "GOAL", "1", home = true)
    insert(e, "m1", "GOAL", "2", home = false)
    // TABLE upsert over the connector snapshot plus INSERTed rows
    e.execute("INSERT INTO players VALUES ('1', 'Leo', 'Miami', 'Argentinian');")
    val player = e.execute("SELECT id, name FROM players WHERE id = '1';").get
    // a CSAS → CTAS chain, a plain CTAS and the windowed CTAS
    val stats = e.execute("SELECT player_id, player_name, goals, events FROM player_stats;").get
    val results = e.execute("SELECT * FROM match_results;").get
    val windows = e.execute("SELECT * FROM events_per_minute;").get
    // one stream and one connector-fed table, each read twice in one query
    val selfJoin = e.execute(
      """SELECT a.id, COUNT(*) AS n FROM match_event a
        JOIN match_event b ON a.id = b.id GROUP BY a.id;""").get
    val tableSelfJoin = e.execute(
      """SELECT p.id, q.name FROM players p JOIN players q ON p.id = q.id
        WHERE p.id = '1';""").get

    // later statements change every one of those states
    e.execute("INSERT INTO players VALUES ('1', 'Lionel Messi', 'Inter Miami', 'Argentinian');")
    insert(e, "m1", "GOAL", "1", home = true)
    insert(e, "m2", "ASSIST", "2", home = true)

    assert(rows(player) === Set(Row("1", "Leo")))
    assert(rows(stats) === Set(Row("1", "Leo", 1L, 1L), Row("2", "Cristiano Ronaldo", 1L, 1L)))
    assert(rows(results) === Set(Row("m1", 1L, 1L)))
    assert(rows(windows) === Set(Row("m1", 2L)))
    assert(rows(selfJoin) === Set(Row("m1", 4L)))
    assert(rows(tableSelfJoin) === Set(Row("1", "Leo")))

    // a new query sees the new state
    assert(rows(e.execute("SELECT id, name FROM players WHERE id = '1';").get) ===
      Set(Row("1", "Lionel Messi")))
    assert(rows(e.execute("SELECT player_id, goals, events FROM player_stats;").get) ===
      Set(Row("1", 2L, 2L), Row("2", 1L, 2L)))
    assert(rows(e.execute(
      """SELECT a.id, COUNT(*) AS n FROM match_event a
        JOIN match_event b ON a.id = b.id GROUP BY a.id;""").get) ===
      Set(Row("m1", 9L), Row("m2", 1L)))
  }

  test("re-CREATE: a replaced declaration reaches the derived views that read it") {
    val e = engine
    e.execute("CREATE STREAM s (id VARCHAR KEY, v INT) WITH (KAFKA_TOPIC = 't1');")
    e.execute("CREATE STREAM big AS SELECT id, v FROM s WHERE v > 1;")
    e.execute("CREATE TABLE totals AS SELECT id, SUM(v) AS total FROM big GROUP BY id;")
    e.execute("INSERT INTO s VALUES ('a', 5);")
    assert(rows(e.execute("SELECT * FROM totals;").get) === Set(Row("a", 5L)))
    // s now names another topic: both derived views, in creation order,
    // read the new one (its first INSERT lands here)
    e.execute("CREATE STREAM s (id VARCHAR KEY, v INT) WITH (KAFKA_TOPIC = 't2');")
    assert(rows(e.execute("SELECT * FROM totals;").get).isEmpty)
    e.execute("INSERT INTO s VALUES ('b', 7);")
    assert(rows(e.execute("SELECT * FROM totals;").get) === Set(Row("b", 7L)))
    assert(rows(e.execute("PRINT 't1';").get).size === 1)

    // a TABLE declared before its connector binds to the connector's rows
    e.execute("""CREATE TABLE players (ID VARCHAR PRIMARY KEY, name VARCHAR(50),
      team VARCHAR(50), nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""")
    e.execute("CREATE TABLE teams AS SELECT team, COUNT(*) AS n FROM players GROUP BY team;")
    assert(rows(e.execute("SELECT * FROM teams;").get).isEmpty)
    e.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');")
    assert(e.execute("SELECT * FROM players;").get.count() === 10)
    assert(rows(e.execute("SELECT n FROM teams WHERE team = 'Manchester City';").get) ===
      Set(Row(2L)))
  }
}
