package graft

import graft.engine.Sources

/** Executes the REAL JDBC source paths against an embedded Derby database
  * (in /opt/spark/jars — genuine JDBC URL + DriverManager, no injected
  * stand-in DataFrame): the snapshot read behind `CREATE SOURCE CONNECTOR`
  * (reference: files/ksqldb-cli/all.sql:3-18) and the `mode=incrementing`
  * watermark pull (all.sql:10-12).
  */
class JdbcSourceSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  // Derby 10.16 ships no META-INF/services/java.sql.Driver — register the
  // driver class explicitly, as any production JDBC connector config would
  private val jdbcOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  private def withConn[A](f: java.sql.Connection => A): A = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(sql: String*): Unit = withConn { c =>
    val st = c.createStatement()
    try sql.foreach(st.executeUpdate) finally st.close()
  }

  test("fromJdbcSnapshot executes a genuine JDBC read (embedded Derby)") {
    exec(
      """CREATE TABLE players(
        |  id INT PRIMARY KEY, name VARCHAR(50), team VARCHAR(50))""".stripMargin,
      "INSERT INTO players VALUES (1,'jorge','valencia')," +
        "(2,'fabio','valencia'),(3,'dani','sevilla')")
    val df = Sources.fromJdbcSnapshot(spark, url, "players", jdbcOpts)
    // Derby folds unquoted identifiers to upper case
    val got = df.select("ID", "NAME", "TEAM").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      (1, "jorge", "valencia"), (2, "fabio", "valencia"), (3, "dani", "sevilla")))
  }

  test("fromJdbcIncrement: watermark pull sees only rows past lastSeen") {
    exec(
      "CREATE TABLE inc_events(id INT PRIMARY KEY, event_type VARCHAR(20))",
      "INSERT INTO inc_events VALUES (1,'GOAL'),(2,'ASSIST'),(3,'GOAL')")
    // first poll from offset 0: the full table
    val first = Sources.fromJdbcIncrement(spark, url, "inc_events", "id", 0L, jdbcOpts)
      .select("ID").collect().map(_.getInt(0)).toSet
    assert(first === Set(1, 2, 3))
    // rows arrive between polls; the next pull starts past the watermark
    exec("INSERT INTO inc_events VALUES (4,'GOAL'),(5,'CARD')")
    val second = Sources.fromJdbcIncrement(spark, url, "inc_events", "id", 3L, jdbcOpts)
      .select("ID", "EVENT_TYPE").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(second === Set((4, "GOAL"), (5, "CARD")))
    // caught-up poll is empty, not an error
    assert(Sources.fromJdbcIncrement(
      spark, url, "inc_events", "id", 5L, jdbcOpts).isEmpty)
  }

  test("KSQL CREATE SOURCE CONNECTOR pulls through a real JDBC database") {
    // seed Derby with the tutorial players via Spark's own JDBC writer
    graft.streaming.Tutorial.playersSeed(spark).write
      .format("jdbc").option("url", url).option("dbtable", "tut_players")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").save()
    // DEFAULT connector provider — genuine JDBC URL, nothing injected
    val e = new graft.ksql.KsqlEngine(spark)
    e.execute("CREATE SOURCE CONNECTOR tutorial_src WITH (" +
      "'connection.url' = 'jdbc:derby:memory:graftjdbc', " +
      "'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver', " +
      "'table.whitelist' = 'tut_players');")
    e.execute("""CREATE TABLE players (
      id VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
      nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'tut_players');""")
    val got = e.execute("SELECT id, name, team FROM players EMIT CHANGES;")
      .get.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val want = graft.streaming.Tutorial.playersSeed(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSet === want.toSet)
    assert(got.length === 10)
  }

  test("the batch plane scans the database once per CREATE SOURCE CONNECTOR, " +
      "not once per SELECT") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    graft.streaming.Tutorial.playersSeed(spark).write
      .format("jdbc").option("url", url).option("dbtable", "scan_players")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").save()
    Executions.drain(spark)
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "JDBCRDD")) scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = new graft.ksql.KsqlEngine(spark)
      e.execute("CREATE SOURCE CONNECTOR scan_src WITH (" +
        "'connection.url' = 'jdbc:derby:memory:graftjdbc', " +
        "'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver', " +
        "'table.whitelist' = 'scan_players');")
      e.execute("""CREATE TABLE players (
        id VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
        nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'scan_players');""")
      // every read sees the same records at the same offsets
      val offsets = (1 to 3).map { _ =>
        e.execute("PRINT 'scan_players' FROM BEGINNING;").get
          .select("id", "_offset").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(offsets.distinct.size === 1 && offsets.head.size === 10)
      e.execute("INSERT INTO players VALUES ('11', 'dani', 'sevilla', 'Spanish');")
      val counts = (1 to 3).map(_ =>
        e.execute("SELECT id, name FROM players EMIT CHANGES;").get.count())
      assert(counts === Seq(11L, 11L, 11L))
      Executions.drain(spark)
      assert(scans.get === 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fromJdbcIncrement rejects identifier injection") {
    intercept[IllegalArgumentException] {
      Sources.fromJdbcIncrement(spark, url, "t; DROP TABLE x", "id", 0L)
    }
    intercept[IllegalArgumentException] {
      Sources.fromJdbcIncrement(spark, url, "t", "id > 0 OR 1=1 --", 0L)
    }
  }

  test("jdbcPollingSource: continuous polls land exactly the new rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE poll_players(id INT PRIMARY KEY, name VARCHAR(50), team VARCHAR(50))",
      "INSERT INTO poll_players VALUES (1,'jorge','valencia'),(2,'fabio','valencia')")
    val dir = java.nio.file.Files.createTempDirectory("graft_poll").toString
    val ticks = MemoryStream[Int]
    val q = Sources.jdbcPollingSource(ticks.toDF(), url, "poll_players",
      "id", s"$dir/landing", s"$dir/ckpt", jdbcOpts)
    try {
      ticks.addData(1); q.processAllAvailable()
      val first = spark.read.parquet(s"$dir/landing")
        .orderBy("_offset").collect()
      assert(first.map(_.getLong(1)).toSeq === Seq(1L, 2L))
      // wire format: lower-cased JSON keys, the Kafka-topic value shape
      assert(first.head.getString(0) ===
        """{"id":1,"name":"jorge","team":"valencia"}""")
      // idle tick: caught-up poll lands nothing (and writes no files)
      ticks.addData(2); q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/landing").count() === 2L)
      // rows arrive in the database; the next poll lands ONLY those
      exec("INSERT INTO poll_players VALUES (3,'dani','sevilla')")
      ticks.addData(3); q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/landing")
        .orderBy("_offset").collect().map(_.getLong(1)).toSeq ===
        Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("jdbcPollingSource: a restarted loop resumes from the landing " +
      "watermark, no separate offset store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE poll_resume(id INT PRIMARY KEY, v VARCHAR(10))",
      "INSERT INTO poll_resume VALUES (1,'a'),(2,'b')")
    val dir = java.nio.file.Files.createTempDirectory("graft_pollr").toString
    val t1 = MemoryStream[Int]
    val q1 = Sources.jdbcPollingSource(t1.toDF(), url, "poll_resume",
      "id", s"$dir/landing", s"$dir/ckpt1", jdbcOpts)
    try { t1.addData(1); q1.processAllAvailable() } finally q1.stop()
    // new loop, FRESH checkpoint (batchIds restart at 0): the watermark
    // derives from the installed landing, so nothing re-lands
    val t2 = MemoryStream[Int]
    val q2 = Sources.jdbcPollingSource(t2.toDF(), url, "poll_resume",
      "id", s"$dir/landing", s"$dir/ckpt2", jdbcOpts)
    try {
      t2.addData(1); q2.processAllAvailable()
      assert(spark.read.parquet(s"$dir/landing").count() === 2L)
      exec("INSERT INTO poll_resume VALUES (3,'c')")
      t2.addData(2); q2.processAllAvailable()
      assert(spark.read.parquet(s"$dir/landing")
        .orderBy("_offset").collect().map(_.getLong(1)).toSeq ===
        Seq(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("live connector e2e: database inserts flow to a running push " +
      "query without restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE live_players(id INT PRIMARY KEY, name VARCHAR(50), team VARCHAR(50))",
      "INSERT INTO live_players VALUES (1,'jorge','valencia')," +
        "(2,'fabio','valencia'),(3,'dani','sevilla')")
    val root = java.nio.file.Files.createTempDirectory("graft_live").toString
    val ticks = MemoryStream[Int]
    val e = new graft.ksql.KsqlStreamingEngine(spark,
      livePolling = Some(graft.ksql.LivePolling(() => ticks.toDF(), root)))
    try {
      e.execute(s"""CREATE SOURCE CONNECTOR live_conn WITH (
        'connection.url' = '$url',
        'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver',
        'mode' = 'incrementing',
        'incrementing.column.name' = 'id',
        'table.whitelist' = 'live_players');""")
      e.execute("""CREATE STREAM players_live (
        id INT, name VARCHAR, team VARCHAR)
        WITH (KAFKA_TOPIC = 'live_players');""")
      ticks.addData(1); e.drainConnectors()
      val h = e.execute("""SELECT team, COUNT(name) AS players
        FROM players_live GROUP BY team EMIT CHANGES;""").get
      def latest: Map[String, Long] = h.emissions.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      try {
        h.processAllAvailable()
        assert(latest === Map("valencia" -> 2L, "sevilla" -> 1L))
        // the reference's running-Connect-worker behavior: a database
        // insert mid-session reaches the live changelog on the next poll
        exec("INSERT INTO live_players VALUES (4,'pedro','sevilla')")
        ticks.addData(2); e.drainConnectors()
        h.processAllAvailable()
        assert(latest === Map("valencia" -> 2L, "sevilla" -> 2L))
      } finally h.stop()
      // connector-fed streams refuse INSERT — rows come from the DB
      intercept[IllegalArgumentException] {
        e.execute("INSERT INTO players_live VALUES (9, 'x', 'y');")
      }
    } finally e.stopAll()
  }

  test("live connector: upper-case declarations decode (JDBC engines " +
      "fold identifiers up; the wire lower-cases)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE live_up(id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO live_up VALUES (1,'jorge'),(2,'fabio')")
    val root = java.nio.file.Files.createTempDirectory("graft_liveup").toString
    val ticks = MemoryStream[Int]
    val e = new graft.ksql.KsqlStreamingEngine(spark,
      livePolling = Some(graft.ksql.LivePolling(() => ticks.toDF(), root)))
    try {
      e.execute(s"""CREATE SOURCE CONNECTOR up_conn WITH (
        'connection.url' = '$url',
        'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver',
        'mode' = 'incrementing', 'incrementing.column.name' = 'id',
        'table.whitelist' = 'live_up');""")
      // ksqlDB-style upper-case declaration must still decode the
      // lower-cased wire keys — a silent all-NULL decode is the bug
      e.execute("""CREATE STREAM up_stream (ID INT, NAME VARCHAR)
        WITH (KAFKA_TOPIC = 'live_up');""")
      ticks.addData(1); e.drainConnectors()
      val h = e.execute("SELECT ID, NAME FROM up_stream EMIT CHANGES;").get
      try {
        h.processAllAvailable()
        val got = h.emissions.collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet
        assert(got === Set((1, "jorge"), (2, "fabio")))
      } finally h.stop()
    } finally e.stopAll()
  }

  test("live connector: CREATE TABLE over the live topic serves the " +
      "tutorial's stream-table join, fresh per query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE live_dim(id INT PRIMARY KEY, name VARCHAR(50), team VARCHAR(50))",
      "INSERT INTO live_dim VALUES (1,'jorge','valencia'),(2,'fabio','valencia')")
    val root = java.nio.file.Files.createTempDirectory("graft_livet").toString
    val ticks = MemoryStream[Int]
    val e = new graft.ksql.KsqlStreamingEngine(spark,
      livePolling = Some(graft.ksql.LivePolling(() => ticks.toDF(), root)))
    try {
      e.execute(s"""CREATE SOURCE CONNECTOR dim_conn WITH (
        'connection.url' = '$url',
        'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver',
        'mode' = 'incrementing', 'incrementing.column.name' = 'id',
        'table.whitelist' = 'live_dim');""")
      // the all.sql shape: a TABLE over the connector topic (KTable)
      e.execute("""CREATE TABLE players_dim (
        id INT PRIMARY KEY, name VARCHAR, team VARCHAR)
        WITH (KAFKA_TOPIC = 'live_dim');""")
      e.execute("""CREATE STREAM goals (player_id INT, kind VARCHAR)
        WITH (KAFKA_TOPIC = 'goals');""")
      ticks.addData(1); e.drainConnectors()
      val h1 = e.execute("""SELECT g.kind kind, p.name name FROM goals g
        JOIN players_dim p ON p.id = g.player_id EMIT CHANGES;""").get
      try {
        e.execute("INSERT INTO goals VALUES (1, 'GOAL');")
        h1.processAllAvailable()
        assert(h1.emissions.collect()
          .map(r => (r.getString(0), r.getString(1))).toSet ===
          Set(("GOAL", "jorge")))
      } finally h1.stop()
      // a database insert lands on the next poll and the NEXT query's
      // dimension resolves it (fresh static side per query)
      exec("INSERT INTO live_dim VALUES (3,'pedro','sevilla')")
      ticks.addData(2); e.drainConnectors()
      val h2 = e.execute("""SELECT g.kind kind, p.name name FROM goals g
        JOIN players_dim p ON p.id = g.player_id EMIT CHANGES;""").get
      try {
        e.execute("INSERT INTO goals VALUES (3, 'ASSIST');")
        h2.processAllAvailable()
        assert(h2.emissions.collect()
          .map(r => (r.getString(0), r.getString(1))).toSet ===
          Set(("GOAL", "jorge"), ("ASSIST", "pedro")))
      } finally h2.stop()
    } finally e.stopAll()
  }

  test("live connector: a stream declared BEFORE its connector rebinds " +
      "to the live topic") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    exec(
      "CREATE TABLE live_pre(id INT PRIMARY KEY, v VARCHAR(10))",
      "INSERT INTO live_pre VALUES (1,'a'),(2,'b')")
    val root = java.nio.file.Files.createTempDirectory("graft_livep").toString
    val ticks = MemoryStream[Int]
    val e = new graft.ksql.KsqlStreamingEngine(spark,
      livePolling = Some(graft.ksql.LivePolling(() => ticks.toDF(), root)))
    try {
      // ksqlDB binds streams to topics by name: declaration order is free
      e.execute("""CREATE STREAM pre_stream (id INT, v VARCHAR)
        WITH (KAFKA_TOPIC = 'live_pre');""")
      e.execute(s"""CREATE SOURCE CONNECTOR pre_conn WITH (
        'connection.url' = '$url',
        'connection.driver.class' = 'org.apache.derby.jdbc.EmbeddedDriver',
        'mode' = 'incrementing', 'incrementing.column.name' = 'id',
        'table.whitelist' = 'live_pre');""")
      ticks.addData(1); e.drainConnectors()
      val h = e.execute("SELECT id, v FROM pre_stream EMIT CHANGES;").get
      try {
        h.processAllAvailable()
        assert(h.emissions.collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet ===
          Set((1, "a"), (2, "b")))
      } finally h.stop()
      // and the rebind made it connector-fed: INSERT refused
      intercept[IllegalArgumentException] {
        e.execute("INSERT INTO pre_stream VALUES (9, 'x');")
      }
    } finally e.stopAll()
  }
}
