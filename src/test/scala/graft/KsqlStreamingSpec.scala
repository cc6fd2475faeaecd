package graft

import graft.ksql.KsqlStreamingEngine
import graft.streaming.Tutorial
import org.apache.spark.sql.Row

/** `EMIT CHANGES` as real continuous execution: KSQL text → Structured
  * Streaming push queries over MemoryStream topics, asserting the
  * README's count-evolution changelog (README.md:247-253) and the
  * player_stats golden with exact streaming COUNT_DISTINCT.
  */
class KsqlStreamingSpec extends SparkSpec {

  private def freshEngine = new KsqlStreamingEngine(spark,
    connectorProvider = (s, _) => Tutorial.playersSeed(s))

  private def ddl(e: KsqlStreamingEngine): Unit = {
    e.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');")
    e.execute("""CREATE TABLE players (
      ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
      nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""")
    e.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
  }

  private def insert(e: KsqlStreamingEngine, evs: Seq[Tutorial.MatchEvent]): Unit =
    evs.foreach { ev =>
      e.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }

  test("push query emits the count-evolution changelog (README.md:247-253)") {
    val e = freshEngine
    ddl(e)
    val h = e.execute(
      """SELECT id, count(id) AS goals FROM match_event
         WHERE home AND event_type = 'GOAL' GROUP BY id EMIT CHANGES;""").get
    try {
      // MemoryStream may split the inserts across micro-batches, so the
      // update-mode changelog can carry intermediate states (that IS the
      // count evolution of README.md:247-253) — assert the latest state
      // per key, and that every emission is a valid prefix count
      def latest: Map[String, Long] = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      insert(e, Tutorial.canonicalEvents.take(4))
      h.processAllAvailable()
      assert(latest === Map("1" -> 2L))
      insert(e, Tutorial.canonicalEvents.drop(4))
      h.processAllAvailable()
      assert(latest === Map("1" -> 2L, "2" -> 1L))
      // counts only ever grew (changelog monotonicity per key)
      val emitted = h.emissions.collect().map(r => (r.getString(0), r.getLong(1)))
      emitted.groupBy(_._1).values.foreach { vs =>
        assert(vs.map(_._2).toSeq === vs.map(_._2).toSeq.sorted)
      }
    } finally h.stop()
  }

  test("two streams over one KAFKA_TOPIC share the record log (and " +
      "COUNT_DISTINCT takes nested-call arguments under streaming)") {
    val e = freshEngine
    e.execute("""CREATE STREAM s1 (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='shared_t');""")
    e.execute("""CREATE STREAM s2 (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='shared_t');""")
    e.execute("INSERT INTO s1 VALUES ('1', 'GOAL', '9', true);")
    // a consumer of the same topic must see rows produced via the OTHER
    // stream — one log per topic, as on the batch plane and in Kafka
    val h = e.execute(
      // nested-call argument: the old [^()]* rewrite fell through to
      // count(DISTINCT …), which Spark rejects under streaming aggs
      """SELECT event_type, COUNT_DISTINCT(UCASE(player_id)) AS n
        FROM s2 GROUP BY event_type EMIT CHANGES;""").get
    try {
      e.execute("INSERT INTO s1 VALUES ('2', 'GOAL', '7', false);")
      e.execute("INSERT INTO s2 VALUES ('3', 'GOAL', '7', true);")
      h.processAllAvailable()
      val last = h.emissions.collect().map(r =>
        (r.getString(0), r.getLong(1))).groupBy(_._1)
        .map { case (k, vs) => k -> vs.last._2 }
      assert(last === Map("GOAL" -> 2L)) // players 9 and 7, via both streams
    } finally e.release(h)
    // release dropped the changelog table — a long-lived server must not
    // retain one table per query ever served
    assert(!spark.catalog.tableExists(h.name))
  }

  test("drainSince is incremental: only rows past the cursor, zero Spark jobs") {
    val e = freshEngine
    ddl(e)
    val h = e.execute(
      "SELECT id, event_type FROM match_event EMIT CHANGES;").get
    try {
      insert(e, Tutorial.canonicalEvents.take(3))
      h.processAllAvailable()
      val (first, c1) = h.drainSince(-1L)
      assert(first.size === 3)
      // drained-to-the-end cursor: nothing new → empty, cursor stable
      val (empty, c2) = h.drainSince(c1)
      assert(empty.isEmpty && c2 === c1)
      insert(e, Tutorial.canonicalEvents.slice(3, 7))
      h.processAllAvailable()
      // O(new rows), not O(changelog): the second drain returns ONLY the
      // four new rows — a full-changelog re-collect would return seven
      val (second, c3) = h.drainSince(c2)
      assert(second.size === 4)
      assert(c3 > c2)
      // order and content match the full changelog (the sink's batch
      // list IS the emission log)
      assert((first ++ second).map(_.toSeq) ===
        h.emissions.collect().toSeq.map(_.toSeq))
      // driver-only: a drain schedules NO Spark job (the /query serving
      // loop may poll forever on a quiet connection — it must observe
      // the sink, not run the cluster)
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        (1 to 50).foreach(_ => h.drainSince(c3))
        Thread.sleep(300) // let any (forbidden) job events surface
        assert(jobs === 0, "drainSince must not schedule Spark jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally h.stop()
  }

  test("the push sink keeps a replayed batch id once") {
    val e = freshEngine
    ddl(e)
    val h = e.execute("SELECT id, event_type FROM match_event EMIT CHANGES;").get
    try {
      insert(e, Tutorial.canonicalEvents.take(2))
      h.processAllAvailable()
      val (rows, last) = h.drainSince(-1L)
      assert(rows.size === 2)
      // a query restarted from its checkpoint re-runs its last uncommitted
      // batch under the same id; the sink hands it over again
      h.changelog.append(last, rows.toArray)
      assert(h.drainSince(-1L) === ((rows, last)))
      assert(h.emissions.collect().toSeq.map(_.toSeq) === rows.map(_.toSeq))
      insert(e, Tutorial.canonicalEvents.slice(2, 3))
      h.processAllAvailable()
      assert(h.drainSince(last)._1.size === 1)
    } finally e.release(h)
  }

  test("streaming CSAS + player_stats with exact COUNT_DISTINCT (all.sql:129-160)") {
    val e = freshEngine
    ddl(e)
    e.execute("""CREATE STREAM match_event_player WITH (
        KAFKA_TOPIC='match_event_player') AS
      SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;""")
    val h = e.execute(
      """SELECT p.id AS player_id,
           LATEST_BY_OFFSET(p.name) AS player_name,
           sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
           CAST(sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END)
               AS DOUBLE) / cast(COUNT_DISTINCT((mep.id)) AS DOUBLE) avg_goals,
           sum(CASE WHEN mep.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
         FROM match_event_player mep JOIN players p ON p.id = mep.player_id
         GROUP BY p.id EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      // last emission per key = converged state (the changelog's tail)
      val last = h.emissions.collect().groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.last }
      assert(last("1") === Row("1", "Lionel Messi", 3L, 1.5, 1L))
      assert(last("2") === Row("2", "Cristiano Ronaldo", 2L, 1.0, 1L))
    } finally h.stop()
  }

  test("player_stats composite JSON key bytes via kafkaKeyValue (K1, README.md:462-465)") {
    val e = freshEngine
    ddl(e)
    e.execute("""CREATE STREAM match_event_player WITH (
        KAFKA_TOPIC='match_event_player') AS
      SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;""")
    val h = e.execute(
      """SELECT p.id AS player_id, p.name AS name, p.nationality AS nationality,
           sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
           CAST(sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END)
               AS DOUBLE) / cast(COUNT_DISTINCT((mep.id)) AS DOUBLE) avg_goals,
           sum(CASE WHEN mep.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
         FROM match_event_player mep JOIN players p ON p.id = mep.player_id
         GROUP BY p.id, p.name, p.nationality EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      // converged state (latest changelog emission per key), re-lifted to a
      // DataFrame and pushed through the SAME key/value assembly the Kafka
      // sink uses — the README's console-consumer golden, byte for byte
      val em = h.emissions
      val latest = em.collect().groupBy(_.getString(0)).map(_._2.last).toSeq
      val converged = spark.createDataFrame(
        spark.sparkContext.parallelize(latest), em.schema)
      val kv = graft.engine.Sinks
        .kafkaKeyValue(converged, Seq("PLAYER_ID", "NAME", "NATIONALITY"))
        .orderBy("key").collect().map(r => (r.getString(0), r.getString(1)))
      assert(kv.toSeq === Seq(
        ("""{"PLAYER_ID":"1","NAME":"Lionel Messi","NATIONALITY":"Argentinian"}""",
         """{"GOALS":3,"AVG_GOALS":1.5,"ASSISTS":1}"""),
        ("""{"PLAYER_ID":"2","NAME":"Cristiano Ronaldo","NATIONALITY":"Portuguese"}""",
         """{"GOALS":2,"AVG_GOALS":1.0,"ASSISTS":1}""")))
    } finally h.stop()
  }

  test("windowed push query: TUMBLING aggregation emits live window counts") {
    val e = freshEngine
    ddl(e)
    val base = 1577836800000L
    val h = e.execute(
      """SELECT id, WINDOWSTART ws, COUNT(id) n FROM match_event
        WINDOW TUMBLING (SIZE 2 SECONDS) GROUP BY id EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      // update-mode changelog: latest state per (id, window)
      val state = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(t => (t._1, t._2)).map(_._2.last).toSet
      assert(state === Set(
        ("1", base, 2L), ("1", base + 2000, 2L),
        ("2", base + 4000, 2L), ("2", base + 6000, 1L)))
    } finally h.stop()
  }

  test("windowed push query: SESSION aggregation emits gap-closed sessions") {
    val e = freshEngine
    ddl(e)
    // append mode: a session row emits once the watermark (= max rowtime,
    // zero delay) passes its end (last event + gap)
    val h = e.execute(
      """SELECT id, COUNT(id) n FROM match_event
        WINDOW SESSION (2 SECONDS) GROUP BY id EMIT CHANGES;""").get
    try {
      // canonical events: ids 1,1,1,1,2,2,2 at rowtime seconds 0..6 →
      // id '1' chains 0-3 into ONE session of 4 (ends 3+2=5 ≤ watermark 6
      // → closed); id '2' chains 4-6 (ends 8 → still open)
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      def closed = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(closed === Set(("1", 4L)))
      // two later events advance the watermark to 8 s, closing id '2's
      // session (n=3); the id-'9' pair forms its own still-open session
      insert(e, Seq(Tutorial.MatchEvent("9", "GOAL", "1", true),
        Tutorial.MatchEvent("9", "GOAL", "1", true)))
      h.processAllAvailable()
      assert(closed === Set(("1", 4L), ("2", 3L)))
    } finally h.stop()
  }

  test("EMIT FINAL: each tumbling window emitted once, on close") {
    val e = freshEngine
    ddl(e)
    val base = 1577836800000L // the engines' rowtime epoch, millis
    val h = e.execute(
      """SELECT id, WINDOWSTART ws, COUNT(id) n FROM match_event
        WINDOW TUMBLING (SIZE 2 SECONDS) GROUP BY id EMIT FINAL;""").get
    try {
      def closed = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // canonical events: ids 1,1,1,1,2,2,2 at rowtimes 0..6 s →
      // windows [0,2) id1 n=2, [2,4) id1 n=2, [4,6) id2 n=2, [6,8) id2
      // n=1 (open: watermark is 6)
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      val afterSeven = closed
      assert(afterSeven.toSet.subsetOf(Set(
        ("1", base, 2L), ("1", base + 2000, 2L), ("2", base + 4000, 2L))))
      assert(afterSeven.toSet.contains(("1", base, 2L)))
      assert(afterSeven.toSet.contains(("1", base + 2000, 2L)))
      // two later events (rowtimes 7,8 s) advance the watermark to 8:
      // [4,6) and [6,8) close; [8,10) (id 9's second event) stays open
      insert(e, Seq(Tutorial.MatchEvent("9", "GOAL", "1", true),
        Tutorial.MatchEvent("9", "GOAL", "1", true)))
      h.processAllAvailable()
      assert(closed.toSet === Set(
        ("1", base, 2L), ("1", base + 2000, 2L), ("2", base + 4000, 2L),
        ("2", base + 6000, 1L), ("9", base + 6000, 1L)))
      // ONCE: finals never re-emit — no duplicate (id, window) rows
      val perWindow = closed.groupBy(r => (r._1, r._2)).values.map(_.length)
      assert(perWindow.forall(_ === 1))
    } finally h.stop()
  }

  test("EMIT FINAL without a WINDOW clause is refused") {
    val e = freshEngine
    ddl(e)
    val err = intercept[IllegalArgumentException] {
      e.execute(
        "SELECT id, COUNT(id) n FROM match_event GROUP BY id EMIT FINAL;")
    }
    assert(err.getMessage.contains("WINDOW"))
    // the BATCH engine applies the same validity rule — one statement,
    // one verdict across both planes
    val be = new graft.ksql.KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    be.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    val berr = intercept[IllegalArgumentException] {
      be.execute(
        "SELECT id, COUNT(id) n FROM match_event GROUP BY id EMIT FINAL;")
    }
    assert(berr.getMessage.contains("WINDOW"))
  }

  test("push query over a derived aggregate runs update-mode (plan-based " +
      "output choice) and mixed-case INSERT targets share one offset log") {
    val e = freshEngine
    ddl(e)
    // the outer select has no GROUP BY of its own — the aggregation
    // lives in the CTAS view; a textual mode choice would pick Append
    // and Spark would reject the streaming aggregation
    e.execute("""CREATE TABLE goal_counts AS
      SELECT id, COUNT(id) AS goals FROM match_event
      WHERE event_type = 'GOAL' GROUP BY id;""")
    val h = e.execute("SELECT id, goals FROM goal_counts EMIT CHANGES;").get
    try {
      // mixed-case target: the same stream, the same offset counter —
      // split counters would mint duplicate offsets (ties in rowtime)
      e.execute("INSERT INTO match_event VALUES ('1','GOAL','1',true);")
      e.execute("INSERT INTO MATCH_EVENT VALUES ('1','GOAL','2',true);")
      e.execute("INSERT INTO Match_Event VALUES ('2','GOAL','3',false);")
      h.processAllAvailable()
      val latest = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(latest === Map("1" -> 2L, "2" -> 1L))
    } finally h.stop()
  }

  test("a session window inside a DERIVED view still gets its watermark " +
      "through the outer push query") {
    val e = freshEngine
    ddl(e)
    e.execute("""CREATE TABLE sessions AS
      SELECT id, COUNT(id) n FROM match_event
      WINDOW SESSION (2 SECONDS) GROUP BY id;""")
    // outer text has no WINDOW — the session lives in the derived view;
    // without the inherited watermark Spark rejects the plan outright
    val h = e.execute("SELECT id, n FROM sessions EMIT CHANGES;").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      val closed = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(closed === Set(("1", 4L)))
    } finally h.stop()
  }

  test("FROM ... AS alias resolves to the alias, not the keyword") {
    val e = freshEngine
    ddl(e)
    val h = e.execute(
      """SELECT m.id, COUNT(m.id) n FROM match_event AS m
        GROUP BY m.id EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents.take(4))
      h.processAllAvailable()
      val latest = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(latest === Map("1" -> 4L))
    } finally h.stop()
  }

  test("streaming INSERT carries array literals and SQL '' escapes " +
      "through the JSON wire") {
    val e = freshEngine
    e.execute("""CREATE STREAM tagged (
      id INT KEY, name VARCHAR, tags ARRAY<VARCHAR>)
      WITH (KAFKA_TOPIC='tagged');""")
    val h = e.execute("SELECT id, name, tags FROM tagged EMIT CHANGES;").get
    try {
      e.execute(
        "INSERT INTO tagged VALUES (1, 'it''s', ARRAY['a','b''c']);")
      h.processAllAvailable()
      val got = h.emissions.collect().map(r =>
        (r.getInt(0), r.getString(1), r.getSeq[String](2).toList))
      assert(got.toSeq === Seq((1, "it's", List("a", "b'c"))))
    } finally h.stop()
  }

  test("streaming INSERT carries control chars and non-finite doubles " +
      "through the JSON wire (no silent all-null rows)") {
    val e = freshEngine
    e.execute("""CREATE STREAM gauges (
      id INT KEY, note VARCHAR, val DOUBLE)
      WITH (KAFKA_TOPIC='gauges');""")
    val h = e.execute("SELECT id, note, val FROM gauges EMIT CHANGES;").get
    try {
      // \u0001-ish control chars and \f are < 0x20: unescaped they make the whole JSON
      // record invalid and from_json (PERMISSIVE) delivers an all-null
      // row — while the batch engine stores the same INSERT fine
      e.execute("INSERT INTO gauges VALUES (1, 'ab\fc', 2.5);")
      e.execute("INSERT INTO gauges VALUES (2, 'n', 'NaN');")
      e.execute("INSERT INTO gauges VALUES (3, 'i', '-Infinity');")
      h.processAllAvailable()
      val got = h.emissions.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(got.length === 3)
      assert(got(0) === ((1, "ab\fc", 2.5)))
      assert(got(1)._2 === "n" && got(1)._3.isNaN)
      assert(got(2) === ((3, "i", Double.NegativeInfinity)))
    } finally h.stop()
  }

  test("EMIT FINAL over a derived windowed view is valid on BOTH planes " +
      "(window resolved through the CTAS definition)") {
    // streaming plane
    val e = freshEngine
    ddl(e)
    e.execute("""CREATE TABLE windowed_counts AS
      SELECT id, COUNT(id) AS n FROM match_event
      WINDOW TUMBLING (SIZE 2 SECONDS) GROUP BY id;""")
    val h = e.execute("SELECT * FROM windowed_counts EMIT FINAL;").get
    h.stop()
    // batch plane: same statements, same verdict — the outer text has no
    // WINDOW clause; the batch engine must resolve it through the view
    val be = new graft.ksql.KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    be.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    be.execute("""CREATE TABLE windowed_counts AS
      SELECT id, COUNT(id) AS n FROM match_event
      WINDOW TUMBLING (SIZE 2 SECONDS) GROUP BY id;""")
    be.execute("INSERT INTO match_event VALUES ('1','GOAL','1',true);")
    val out = be.execute("SELECT * FROM windowed_counts EMIT FINAL;")
    assert(out.isDefined && out.get.count() === 1L)
    // a non-windowed view still refuses on both planes
    be.execute("""CREATE TABLE plain_counts AS
      SELECT id, COUNT(id) AS n FROM match_event GROUP BY id;""")
    val berr = intercept[IllegalArgumentException] {
      be.execute("SELECT * FROM plain_counts EMIT FINAL;")
    }
    assert(berr.getMessage.contains("WINDOW"))
  }

  test("'WINDOW SESSION' inside a string literal does not switch emission mode") {
    val e = freshEngine
    ddl(e)
    // the literal would regex-match a naive text scan; the structural
    // (literal-masked) parse must keep this a plain aggregation → UPDATE
    // mode live changelog, not a watermarked append query that emits
    // nothing until sessions close
    val h = e.execute(
      """SELECT id, COUNT(id) n FROM match_event
        WHERE event_type != 'WINDOW SESSION (2 SECONDS)'
        GROUP BY id EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      val state = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map(_._2.last).toSet
      assert(state === Set(("1", 4L), ("2", 3L)))
    } finally h.stop()
  }

  test("batch INSERT aligns values to the topic schema by NAME when the " +
      "declaration's column order differs") {
    import spark.implicits._
    // connector feeds topic columns in (id, name, score) order; the decl
    // lists them re-ordered — a positional append would land 'bob' in id
    val be = new graft.ksql.KsqlEngine(spark,
      connectorProvider = (s, _) => {
        import s.implicits._
        Seq(("p1", "ana", 10)).toDF("id", "name", "score")
      })
    be.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'ppl');")
    be.execute("""CREATE TABLE people (
      name VARCHAR, id VARCHAR PRIMARY KEY, score INT)
      WITH (KAFKA_TOPIC = 'ppl');""")
    be.execute("INSERT INTO people VALUES ('bob', 'p2', 7);")
    val got = be.execute("SELECT id, name, score FROM people EMIT CHANGES;")
      .get.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got === Set(("p1", "ana", 10), ("p2", "bob", 7)))
  }

  test("batch and streaming engines converge to the same query state") {
    val sql = """SELECT p.id AS player_id,
        SUM(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
        SUM(CASE WHEN me.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
      FROM match_event me JOIN players p ON p.id = me.player_id
      GROUP BY p.id EMIT CHANGES;"""
    // batch engine: converged state by re-evaluation
    val be = new graft.ksql.KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    be.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');")
    be.execute("""CREATE TABLE players (
      ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
      nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""")
    be.execute("""CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
      WITH (KAFKA_TOPIC='match_event');""")
    Tutorial.canonicalEvents.foreach { ev =>
      be.execute(s"INSERT INTO match_event VALUES " +
        s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
    }
    val batchState = be.execute(sql).get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // streaming engine: same statements, state = latest changelog emission
    val se = freshEngine
    ddl(se)
    val h = se.execute(sql).get
    try {
      insert(se, Tutorial.canonicalEvents)
      h.processAllAvailable()
      val streamState = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map(_._2.last).toSet
      assert(streamState === batchState)
    } finally h.stop()
  }

  test("a push query reads one source partition per micro-batch and keeps " +
      "one state partition; the session's shuffle partitions are unchanged") {
    import java.lang.management.ManagementFactory
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution,
      StreamExecution, StreamingQueryWrapper}
    val key = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(key)
    val e = freshEngine
    ddl(e)
    val h = e.execute(
      "SELECT id, COUNT(id) AS n FROM match_event GROUP BY id EMIT CHANGES;").get
    // batch id -> tasks of the batch's parentless (source-reading) stages
    val sourceTasks = new java.util.concurrent.ConcurrentHashMap[Long, Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(p =>
          p.getProperty(StreamExecution.QUERY_ID_KEY) == h.query.id.toString)
          .foreach { p =>
            sourceTasks.merge(p.getProperty(MicroBatchExecution.BATCH_ID_KEY).toLong,
              j.stageInfos.filter(_.parentIds.isEmpty).map(_.numTasks).sum, _ + _)
          }
    }
    try {
      assert(spark.conf.get(key) === partitions)
      insert(e, Tutorial.canonicalEvents.take(1))
      h.processAllAvailable()
      assert(h.query.lastProgress.stateOperators(0).numShufflePartitions === 1)

      // Hold the changelog's monitor: the batch for the next INSERT
      // fixes its offsets, runs, and then blocks on the sink write, so the
      // 40 INSERTs made meanwhile all land in the batch after it.
      val exec = h.query.asInstanceOf[StreamingQueryWrapper].streamingQuery
      val sink = h.changelog
      val threads = ManagementFactory.getThreadMXBean
      def blockedOnSink: Boolean =
        Option(threads.getThreadInfo(exec.queryExecutionThread.getId))
          .flatMap(i => Option(i.getLockInfo))
          .exists(_.getIdentityHashCode == System.identityHashCode(sink))
      spark.sparkContext.addSparkListener(listener)
      sink.synchronized {
        insert(e, Tutorial.canonicalEvents.slice(1, 2))
        val deadline = System.nanoTime() + 60000000000L
        while (!blockedOnSink && System.nanoTime() < deadline) Thread.sleep(10)
        assert(blockedOnSink, "the stream never reached the sink write")
        insert(e, Seq.fill(40)(Tutorial.canonicalEvents.head))
      }
      h.processAllAvailable()
      Executions.drain(spark)
      val batch = h.query.recentProgress.find(_.numInputRows == 40)
        .getOrElse(fail(s"no batch of 40 rows: " +
          h.query.recentProgress.map(_.numInputRows).mkString(",")))
      assert(sourceTasks.get(batch.batchId) === 1,
        s"source tasks by batch: $sourceTasks")
      assert(batch.stateOperators(0).numShufflePartitions === 1)
      assert(spark.conf.get(key) === partitions)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      e.release(h)
    }
  }

  test("a push micro-batch forks no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
    import org.apache.spark.sql.internal.SQLConf
    import scala.jdk.CollectionConverters._
    val managerKey = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key
    val e = freshEngine
    ddl(e)
    e.execute("""CREATE STREAM match_event_player WITH (
        KAFKA_TOPIC='match_event_player') AS
      SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;""")
    val h = e.execute(
      """SELECT p.id AS player_id,
           LATEST_BY_OFFSET(p.name) AS player_name,
           sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
           CAST(sum(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END)
               AS DOUBLE) / cast(COUNT_DISTINCT((mep.id)) AS DOUBLE) avg_goals,
           sum(CASE WHEN mep.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
         FROM match_event_player mep JOIN players p ON p.id = mep.player_id
         GROUP BY p.id EMIT CHANGES;""").get
    // the manager is the started query's setting, not the session's
    assert(spark.conf.getOption(managerKey).isEmpty)
    val recording = new Recording()
    val dump = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      insert(e, Tutorial.canonicalEvents.take(1)) // the warm batch
      h.processAllAvailable()
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      Tutorial.canonicalEvents.slice(1, 6).foreach { ev =>
        insert(e, Seq(ev))
        h.processAllAvailable()
      }
      recording.stop()
      recording.dump(dump)
      def frames(ev: RecordedEvent): Seq[String] = ev.getStackTrace.getFrames.asScala.toSeq
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      // Spark removes a collected session's artifact directory with a
      // forked `rm -rf`, on the JDK's cleaner thread, whenever the clone
      // of an earlier, stopped query is garbage collected: not this
      // query's batches
      val forks = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(frames(_).exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
      assert(forks.isEmpty, forks.map { ev =>
        ev.getString("command") + " from " + frames(ev).take(12).mkString(" < ")
      }.mkString(s"${forks.size} process starts in 5 micro-batches:\n", "\n", ""))
      // the five batches ran and carried their rows
      assert(h.query.recentProgress.count(_.numInputRows > 0) >= 6)
      assert(h.emissions.collect().map(_.getString(0)).toSet === Set("1", "2"))
    } finally {
      recording.close()
      java.nio.file.Files.deleteIfExists(dump)
      e.release(h)
    }
  }

  test("two concurrent push queries over one topic progress independently") {
    val e = freshEngine
    ddl(e)
    val agg = e.execute(
      """SELECT id, COUNT(id) n FROM match_event GROUP BY id EMIT CHANGES;""").get
    val filt = e.execute(
      """SELECT id, player_id FROM match_event
        WHERE event_type = 'GOAL' EMIT CHANGES;""").get
    try {
      insert(e, Tutorial.canonicalEvents)
      agg.processAllAvailable(); filt.processAllAvailable()
      val counts = agg.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map(_._2.last).toMap
      assert(counts === Map("1" -> 4L, "2" -> 3L))
      assert(filt.emissions.count() === 5) // the 5 GOAL events
    } finally { agg.stop(); filt.stop() }
  }

  test("stopped push queries' stream attachments are pruned (no leak)") {
    val e = freshEngine
    ddl(e)
    insert(e, Tutorial.canonicalEvents.take(2))
    // issue-and-stop N queries: without owner-based pruning each one
    // leaves its MemoryStream attached and every INSERT fans out to all
    // of them — attachment count would reach N
    for (_ <- 1 to 3) {
      val h = e.execute(
        "SELECT id, event_type FROM match_event EMIT CHANGES;").get
      h.processAllAvailable()
      h.stop()
      assert(e.attachmentCount("match_event") <= 1,
        "attachments grew with queries issued")
    }
    // a live query holds exactly its own attachment; inserts still flow
    val live = e.execute(
      "SELECT id, event_type FROM match_event EMIT CHANGES;").get
    try {
      assert(e.attachmentCount("match_event") === 1)
      insert(e, Tutorial.canonicalEvents.slice(2, 3))
      live.processAllAvailable()
      assert(live.emissions.count() >= 3)
    } finally live.stop()
  }

  test("soak: sustained INSERT load — attachments and agg state plateau") {
    val e = freshEngine
    ddl(e)
    val h = e.execute(
      """SELECT id, count(id) AS goals FROM match_event
         WHERE home AND event_type = 'GOAL' GROUP BY id EMIT CHANGES;""").get
    try {
      val nInserts = 2000
      val keys = 4
      for (i <- 0 until nInserts) {
        e.execute("INSERT INTO match_event VALUES " +
          s"('${i % keys + 1}', 'GOAL', 'p${i % keys + 1}', true);")
        // churn push queries mid-load: each must prune on stop, never
        // accumulate (the O(queries × records) leak pruneDead prevents)
        if (i % 500 == 250) {
          val cycle = e.execute(
            "SELECT id, event_type FROM match_event EMIT CHANGES;").get
          cycle.processAllAvailable()
          cycle.stop()
        }
        // live agg query (1) + at most a just-stopped cycle query not yet
        // pruned (1): anything above that is attachment growth
        assert(e.attachmentCount("match_event") <= 2,
          s"attachment count grew under load at insert $i")
      }
      h.processAllAvailable()
      // dead cycle queries pruned by the INSERT fan-out path: only the
      // live query's attachment remains after the full soak
      assert(e.attachmentCount("match_event") === 1)
      // aggregation state is keyed: nInserts rows collapse to `keys` state
      // rows (state size plateaus at distinct-key cardinality, not volume)
      val latest = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(latest === (1 to keys).map(k => k.toString -> nInserts.toLong / keys).toMap)
      Option(h.query.lastProgress).foreach { p =>
        assert(p.stateOperators.map(_.numRowsTotal).sum === keys.toLong)
      }
    } finally h.stop()
  }

  test("stateless push query appends (Q4) and SELECT * expands") {
    val e = freshEngine
    ddl(e)
    val h = e.execute("SELECT * FROM match_event EMIT CHANGES;").get
    try {
      insert(e, Tutorial.canonicalEvents)
      h.processAllAvailable()
      assert(h.emissions.columns.toSeq ===
        Seq("ID", "EVENT_TYPE", "PLAYER_ID", "HOME"))
      assert(h.emissions.count() === 7)
    } finally h.stop()
  }

  test("KAFKA_TOPIC keys match case-insensitively: mixed-case keys bind " +
      "one log on both planes") {
    val decls = Seq(
      "CREATE STREAM mc1 (id VARCHAR KEY, v INT) WITH (Kafka_Topic='mc_t');",
      "CREATE STREAM mc2 (id VARCHAR KEY, v INT) WITH (kafka_TOPIC='mc_t');")
    val be = new graft.ksql.KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    decls.foreach(be.execute)
    be.execute("INSERT INTO mc1 VALUES ('a', 1);")
    assert(be.execute("SELECT id, v FROM mc2;").get.collect().toSeq === Seq(Row("a", 1)))
    assert(be.execute("SHOW TOPICS;").get.collect().map(_.getString(0)).toSet
      === Set("mc_t"))

    val se = freshEngine
    decls.foreach(se.execute)
    se.execute("INSERT INTO mc1 VALUES ('a', 1);")
    val h = se.execute("SELECT id, v FROM mc2 EMIT CHANGES;").get
    try {
      h.processAllAvailable()
      assert(h.emissions.collect().toSeq === Seq(Row("a", 1)))
    } finally se.release(h)
  }

  test("seeded INSERT scripts: both planes converge on player_stats and " +
      "match_results, and reject the same INSERTs with the same errors") {
    import scala.util.{Random, Try}
    val setup = Seq(
      "CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');",
      """CREATE TABLE players (ID VARCHAR PRIMARY KEY, name VARCHAR(50),
        team VARCHAR(50), nationality VARCHAR(50))
        WITH (KAFKA_TOPIC = 'players');""",
      """CREATE STREAM match_event (id VARCHAR KEY, event_type VARCHAR,
        player_id VARCHAR, home boolean) WITH (KAFKA_TOPIC='match_event');""",
      """CREATE STREAM match_event_player AS
        SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;""",
      """CREATE TABLE player_stats AS SELECT p.id AS player_id,
          LATEST_BY_OFFSET(p.name) AS player_name,
          SUM(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals,
          CAST(SUM(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT_DISTINCT(mep.id) AS DOUBLE) AS avg_goals,
          SUM(CASE WHEN mep.event_type = 'ASSIST' THEN 1 ELSE 0 END) AS assists
        FROM match_event_player mep JOIN players p ON p.id = mep.player_id
        GROUP BY p.id;""",
      """CREATE TABLE match_results AS SELECT id,
          SUM(CASE WHEN home = true AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS home_goals,
          SUM(CASE WHEN home = false AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS away_goals
        FROM match_event WHERE home IS NOT NULL GROUP BY id;""")
    // SQL-quoted literals; '' escapes land in match ids, event types and
    // player ids that join no player
    val matchIds = Seq("'1'", "'2'", "'3'", "'o''neil'", "'it''s ''4'''")
    val eventTypes = Seq("'GOAL'", "'GOAL'", "'ASSIST'", "'SAVE'", "'it''s'")
    val playerIds = (1 to 10).map(i => s"'$i'") ++ Seq("'99'", "'1'''")
    val homes = Seq("true", "false", "null")
    val order = Seq("id", "event_type", "player_id", "home")
    def script(rnd: Random): String = {
      def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
      (1 to 20 + rnd.nextInt(21)).map { _ =>
        val v = Map("id" -> pick(matchIds), "event_type" -> pick(eventTypes),
          "player_id" -> pick(playerIds), "home" -> pick(homes))
        rnd.nextInt(10) match {
          case 0 => // arity: a value missing
            s"INSERT INTO match_event VALUES (${order.init.map(v).mkString(", ")});"
          case 1 => // a column that does not exist
            s"INSERT INTO match_event (id, event_kind, player_id, home) " +
              s"VALUES (${order.map(v).mkString(", ")});"
          case 2 | 3 => // named columns, shuffled, mixed case
            val cols = rnd.shuffle(order)
            s"INSERT INTO MATCH_EVENT (${cols.map(_.toUpperCase).mkString(", ")}) " +
              s"VALUES (${cols.map(v).mkString(", ")});"
          case _ =>
            s"INSERT INTO match_event VALUES (${order.map(v).mkString(", ")});"
        }
      }.mkString("\n")
    }
    def errors[R](run: String => Option[R], text: String): Seq[(Int, String)] =
      graft.ksql.KsqlParser.splitStatements(text).zipWithIndex.flatMap {
        case (stmt, i) => Try(run(stmt)).failed.toOption.map(e => i -> e.getMessage)
      }

    Seq(3, 5, 8, 13, 21).foreach { seed =>
      val text = script(new Random(seed))
      // batch plane first: it re-registers the shared views it reads
      val be = new graft.ksql.KsqlEngine(spark,
        connectorProvider = (s, _) => Tutorial.playersSeed(s))
      setup.foreach(be.execute)
      val batchErrors = errors(be.execute, text)
      val batchState = Seq("player_stats", "match_results")
        .map(t => be.execute(s"SELECT * FROM $t;").get.collect().toSet)

      val se = freshEngine
      setup.foreach(se.execute)
      val streamErrors = errors(se.execute, text)
      val streamState = Seq("player_stats", "match_results").map { t =>
        val h = se.execute(s"SELECT * FROM $t EMIT CHANGES;").get
        try {
          h.processAllAvailable()
          // converged state = the changelog's last emission per key
          h.emissions.collect().groupBy(_.get(0)).values.map(_.last).toSet
        } finally se.release(h)
      }
      assert(streamErrors === batchErrors, s"seed $seed")
      assert(batchErrors.nonEmpty && batchErrors.forall { case (_, m) =>
        m.contains("INSERT arity") || m.contains("unknown column event_kind") },
        s"seed $seed: $batchErrors")
      assert(streamState === batchState, s"seed $seed:\n$text")
      assert(batchState.forall(_.nonEmpty), s"seed $seed")
    }
  }
}
