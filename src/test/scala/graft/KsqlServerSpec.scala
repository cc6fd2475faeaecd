package graft

import graft.ksql.{KsqlEngine, KsqlServer}
import graft.streaming.Tutorial

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** The REST plane (reference README.md:30-33: the CLI connects to the
  * ksqlDB server over HTTP): the tutorial must be drivable with nothing
  * but POSTs to /ksql, and the server must survive the script's
  * intentionally-invalid statement the way the real server does.
  */
class KsqlServerSpec extends SparkSpec {

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val conn = new URI(s"http://localhost:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = try new String(is.readAllBytes(), StandardCharsets.UTF_8)
      finally is.close()
    (code, text)
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://localhost:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val text = new String(conn.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    (code, text)
  }

  private def jsonBody(script: String): String =
    s"""{"ksql": "${KsqlServer.jsonEscape(script)}"}"""

  test("the tutorial drives end-to-end over POST /ksql") {
    val engine = new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.start(engine, 0)
    val port = server.getAddress.getPort
    try {
      val (c0, info) = get(port, "/info")
      assert(c0 === 200 && info.contains("KsqlServerInfo"))

      val (c1, out1) = post(port, "/ksql", jsonBody(TutorialScript.text))
      assert(c1 === 200)
      // the script's invalid aggregation errors inline, execution continues
      assert(out1.contains("MISSING_AGGREGATION"))
      assert(out1.contains(""""status":"SUCCESS""""))

      // query the converged state built by the script (README.md:413-420)
      val (c2, out2) = post(port, "/ksql",
        jsonBody("SELECT * FROM player_stats EMIT CHANGES;"))
      assert(c2 === 200)
      assert(out2.contains(""""columns":["PLAYER_ID","PLAYER_NAME","NATIONALITY","GOALS","AVG_GOALS","ASSISTS"]"""))
      assert(out2.contains("""["1","Lionel Messi","Argentinian",1,0.5,2]"""))
      assert(out2.contains("""["2","Cristiano Ronaldo","Portuguese",1,1.0,0]"""))

      // malformed body → 400, wrong method → 405; server stays up
      assert(post(port, "/ksql", """{"nope": 1}""")._1 === 400)
      val (c3, _) = get(port, "/info")
      assert(c3 === 200)
    } finally server.stop(0)
  }

  test("array/map/struct column values render as JSON structures") {
    val engine = new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.start(engine, 0)
    val port = server.getAddress.getPort
    try {
      post(port, "/ksql", jsonBody(
        """CREATE STREAM tagged (id INT KEY, tags ARRAY<VARCHAR>)
          WITH (KAFKA_TOPIC='tagged');"""))
      post(port, "/ksql", jsonBody(
        "INSERT INTO tagged VALUES (1, ARRAY['a','b']);"))
      val (c, out) = post(port, "/ksql",
        jsonBody("SELECT id, tags FROM tagged EMIT CHANGES;"))
      assert(c === 200)
      // a JSON array, not the Scala debug string "WrappedArray(a, b)"
      assert(out.contains("""[1,["a","b"]]"""), out)
    } finally server.stop(0)
  }

  test("extractKsqlField binds the KEY token, not a value mentioning " +
      "\"ksql\", and malformed escapes are a 400, not a 500") {
    import graft.ksql.KsqlServer.extractKsqlField
    // a decoy '"ksql"' inside ANOTHER field's string value must not bind
    assert(extractKsqlField(
      """{"note":"about \"ksql\" stuff","ksql":"SHOW TOPICS;"}""")
      === Some("SHOW TOPICS;"))
    assert(extractKsqlField("""{"note":"mentions ksql only"}""") === None)
    // key after the decoy, escapes in the value survive
    assert(extractKsqlField(
      """{"a":"\"ksql\":","ksql":"SELECT 'A';"}""")
      === Some("SELECT 'A';"))
    // NESTED "ksql" keys are some other field's payload, never the
    // statement: binding at any depth would let a property bag smuggle
    // SQL past a proxy inspecting only the top-level field
    assert(extractKsqlField(
      """{"streamsProperties":{"ksql":"SELECT 1;"}}""") === None)
    assert(extractKsqlField(
      """{"configs":[{"ksql":"SELECT 1;"}]}""") === None)
    // ... and a nested decoy before the REAL top-level key still binds
    assert(extractKsqlField(
      """{"props":{"ksql":"DECOY;"},"ksql":"SHOW TOPICS;"}""")
      === Some("SHOW TOPICS;"))
    // malformed \u escape: None (the endpoint answers 400), no throw
    assert(extractKsqlField(
      """{"ksql":"bad !uZZ99 escape"}""".replace('!', '\\')) === None)
    assert(extractKsqlField(
      """{"ksql":"truncated !u00""".replace('!', '\\')) === None)
    // and over the wire: a body whose only "ksql" is inside a value → 400
    val engine = new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.start(engine, 0)
    val port = server.getAddress.getPort
    try {
      assert(post(port, "/ksql",
        """{"note":"talks about \"ksql\" here"}""")._1 === 400)
      assert(post(port, "/ksql",
        """{"ksql":"oops !uXYZW"}""".replace('!', '\\'))._1 === 400)
    } finally server.stop(0)
  }

  test("POST /query streams push-query rows over a chunked response — " +
      "INSERTs posted while it is open arrive incrementally") {
    import graft.ksql.{KsqlServer, KsqlStreamingEngine}
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.startStreaming(engine, 0)
    val port = server.getAddress.getPort
    try {
      val (c0, _) = post(port, "/ksql", jsonBody(
        """CREATE STREAM match_event (
          id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR,
          home boolean) WITH (KAFKA_TOPIC='match_event');"""))
      assert(c0 === 200)

      // open the push query; the response must stay OPEN (chunked)
      val conn = new URI(s"http://localhost:$port/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setReadTimeout(30000)
      val os = conn.getOutputStream
      try os.write(jsonBody(
        "SELECT id, COUNT(id) AS n FROM match_event GROUP BY id " +
          "EMIT CHANGES;").getBytes(StandardCharsets.UTF_8))
      finally os.close()
      assert(conn.getResponseCode === 200)
      assert(Option(conn.getHeaderField("Transfer-Encoding"))
        .exists(_.equalsIgnoreCase("chunked")),
        s"not chunked: ${conn.getHeaderFields}")
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream,
          StandardCharsets.UTF_8))
      def nextDataLine(): String = { // skip blank heartbeat chunks
        var l = reader.readLine()
        while (l != null && l.trim.isEmpty) l = reader.readLine()
        assert(l != null, "stream closed early")
        l
      }
      val header = nextDataLine()
      assert(header.contains(""""columnNames":["ID","N"]"""), header)

      // rows emitted BEFORE any insert: none — now insert and watch the
      // changelog arrive on the already-open response
      post(port, "/ksql", jsonBody(
        "INSERT INTO match_event VALUES ('1','GOAL','1',true);"))
      val r1 = nextDataLine()
      assert(r1.contains(""""columns":["1",1]"""), r1)

      // a second insert, same open response: the count UPDATES
      post(port, "/ksql", jsonBody(
        "INSERT INTO match_event VALUES ('1','GOAL','2',true);"))
      val r2 = nextDataLine()
      assert(r2.contains(""""columns":["1",2]"""), r2)

      // client closes; server must survive and stay responsive
      conn.disconnect()
      assert(get(port, "/info")._2.contains(""""plane":"streaming""""))

      // non-push statements are refused with 400, not streamed
      assert(post(port, "/query", jsonBody("SHOW STREAMS;"))._1 === 400)
    } finally {
      server.stop(0)
      engine.stopAll()
    }
  }

  test("an oversized body is refused with 413 on every endpoint; the " +
      "tutorial DDL still succeeds") {
    import graft.ksql.KsqlStreamingEngine
    val oversized = jsonBody("x" * KsqlServer.MaxBodyBytes)
    val ddl = jsonBody(
      """CREATE STREAM match_event (
        id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR,
        home boolean) WITH (KAFKA_TOPIC='match_event');""")
    val batch = KsqlServer.start(new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s)), 0)
    try {
      val port = batch.getAddress.getPort
      assert(post(port, "/ksql", oversized)._1 === 413)
      assert(post(port, "/ksql", ddl)._1 === 200)
    } finally batch.stop(0)
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val streaming = KsqlServer.startStreaming(engine, 0)
    try {
      val port = streaming.getAddress.getPort
      assert(post(port, "/ksql", oversized)._1 === 413)
      assert(post(port, "/query", oversized)._1 === 413)
      assert(post(port, "/ksql", ddl)._1 === 200)
    } finally {
      streaming.stop(0)
      engine.stopAll()
    }
  }

  test("stopping the streaming plane leaves no non-daemon handler thread") {
    import graft.ksql.KsqlStreamingEngine
    import scala.jdk.CollectionConverters._
    def nonDaemon = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.startStreaming(engine, 0)
    try assert(post(server.getAddress.getPort, "/ksql",
      jsonBody("SHOW STREAMS;"))._1 === 200)
    finally {
      server.stop(0)
      engine.stopAll()
    }
    // an idle handler-pool thread that is not a daemon would keep the
    // JVM alive for the pool's keep-alive after the server has stopped
    val lingering = nonDaemon -- before
    assert(lingering.isEmpty,
      s"non-daemon threads outlive server.stop: ${lingering.map(_.getName)}")
  }

  /** Open a `/query` stream; the caller reads or disconnects it. */
  private def openQuery(port: Int, ksql: String): (HttpURLConnection, Int) = {
    val conn = new URI(s"http://localhost:$port/query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setReadTimeout(30000)
    val os = conn.getOutputStream
    try os.write(jsonBody(ksql).getBytes(StandardCharsets.UTF_8))
    finally os.close()
    (conn, conn.getResponseCode)
  }

  private def headerLine(conn: HttpURLConnection): String = {
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
    var l = reader.readLine()
    while (l != null && l.trim.isEmpty) l = reader.readLine()
    assert(l != null, "stream closed before its header")
    l
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(100); ok = cond }
    assert(ok, what)
  }

  private def pushQueryNames: Set[String] =
    spark.streams.active.map(_.name).filter(n => n != null && n.startsWith("ksql_push_")).toSet

  private def pushViewNames: Set[String] =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("ksql_push_")).map(_.name).toSet

  test("both planes answer /info with their own unchanged bodies") {
    import graft.ksql.KsqlStreamingEngine
    val batch = KsqlServer.start(new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s)), 0)
    try assert(get(batch.getAddress.getPort, "/info")._2 ===
      """{"KsqlServerInfo":{"version":"graft","kafkaClusterId":"n/a",""" +
        """"ksqlServiceId":"graft_spark_"}}""")
    finally batch.stop(0)
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val streaming = KsqlServer.startStreaming(engine, 0)
    try assert(get(streaming.getAddress.getPort, "/info")._2 ===
      """{"KsqlServerInfo":{"version":"graft","kafkaClusterId":"n/a",""" +
        """"ksqlServiceId":"graft_spark_","plane":"streaming"}}""")
    finally {
      streaming.stop(0)
      engine.stopAll()
    }
  }

  test("a push query over streaming POST /ksql returns its changelog rows; " +
      "neither it nor a closed /query stream leaves a query or sink view") {
    import graft.ksql.KsqlStreamingEngine
    // sink views of earlier suites' stopped queries reuse this engine's
    // query names; clear them so a leak here cannot hide behind one
    pushViewNames.diff(pushQueryNames).foreach(spark.catalog.dropTempView)
    val queries0 = pushQueryNames
    val views0 = pushViewNames
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.startStreaming(engine, 0)
    val port = server.getAddress.getPort
    try {
      val (c0, _) = post(port, "/ksql", jsonBody(
        """CREATE STREAM rel_ev (id VARCHAR KEY, event_type VARCHAR)
          WITH (KAFKA_TOPIC='rel_ev');
          INSERT INTO rel_ev VALUES ('1', 'GOAL');
          INSERT INTO rel_ev VALUES ('1', 'ASSIST');"""))
      assert(c0 === 200)
      // the snapshot is taken before the release and collected after it
      val (c1, out) = post(port, "/ksql", jsonBody(
        "SELECT id, COUNT(id) AS n FROM rel_ev GROUP BY id EMIT CHANGES;"))
      assert(c1 === 200)
      assert(out.contains(""""columns":["ID","N"]"""), out)
      assert(out.contains("""["1",2]"""), out)
      assert(pushQueryNames === queries0)
      assert(pushViewNames === views0)

      val (conn, code) = openQuery(port, "SELECT id FROM rel_ev EMIT CHANGES;")
      assert(code === 200)
      val queryId = "\"queryId\":\"(ksql_push_\\d+)\"".r
        .findFirstMatchIn(headerLine(conn)).get.group(1)
      assert(pushQueryNames.contains(queryId))
      conn.disconnect()
      eventually(s"$queryId still runs or keeps its view after disconnect") {
        pushQueryNames === queries0 && pushViewNames === views0
      }
    } finally {
      server.stop(0)
      engine.stopAll()
    }
  }

  test("/query rows leave as their micro-batch's sink write lands, not on " +
      "a poll") {
    import graft.ksql.KsqlStreamingEngine
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.startStreaming(engine, 0)
    val port = server.getAddress.getPort
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      assert(post(port, "/ksql", jsonBody(
        """CREATE STREAM del_ev (id VARCHAR KEY, event_type VARCHAR)
          WITH (KAFKA_TOPIC='del_ev');"""))._1 === 200)
      sock.setSoTimeout(30000)
      val body = jsonBody("SELECT id FROM del_ev EMIT CHANGES;")
        .getBytes(StandardCharsets.UTF_8)
      sock.getOutputStream.write((s"POST /query HTTP/1.1\r\nHost: localhost\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++ body)
      sock.getOutputStream.flush()
      // the chunked framing arrives as lines of its own; data lines keep
      // their JSON shape
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      def next(p: String => Boolean): String = {
        var l = in.readLine()
        while (l != null && !p(l)) l = in.readLine()
        assert(l != null, "stream closed early")
        l
      }
      val queryId = "\"queryId\":\"(ksql_push_\\d+)\"".r
        .findFirstMatchIn(next(_.contains("queryId"))).get.group(1)
      val q = spark.streams.active.find(_.name == queryId).get
      // one INSERT per micro-batch: each row is read before the next
      // INSERT, so the n-th batch with input carries the n-th row
      val n = 12
      val arrivalsMs = (1 to n).map { i =>
        assert(post(port, "/ksql", jsonBody(
          s"INSERT INTO del_ev VALUES ('$i', 'GOAL');"))._1 === 200)
        val row = next(_.startsWith("{\"row\""))
        val now = java.time.Instant.now()
        assert(row.contains(s"""["$i"]"""), row)
        now.getEpochSecond * 1e3 + now.getNano / 1e6
      }
      def batches = q.recentProgress.filter(_.numInputRows > 0)
      eventually("the last batch's progress never arrived")(batches.length >= n)
      // the sink write as perfbench's push.deliver_ms reads it: the end of
      // the trigger less its trailing offset commit
      val sinkWritesMs = batches.takeRight(n).map { p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue -
          p.durationMs.get("commitOffsets").longValue
      }
      val gaps = arrivalsMs.zip(sinkWritesMs).map { case (a, w) => a - w }.sorted
      assert(gaps(n / 2) < 20.0, s"sink write to client read, ms: $gaps")
    } finally {
      sock.close()
      server.stop(0)
      engine.stopAll()
    }
  }

  test("/query streams past MaxPushStreams get 503 before any query " +
      "starts; a slot frees once a client disconnects") {
    import graft.ksql.KsqlStreamingEngine
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.startStreaming(engine, 0)
    val port = server.getAddress.getPort
    val select = "SELECT id FROM cap_ev EMIT CHANGES;"
    val open = scala.collection.mutable.ArrayBuffer.empty[HttpURLConnection]
    try {
      assert(post(port, "/ksql", jsonBody(
        """CREATE STREAM cap_ev (id VARCHAR KEY, event_type VARCHAR)
          WITH (KAFKA_TOPIC='cap_ev');"""))._1 === 200)
      (1 to KsqlServer.MaxPushStreams).foreach { _ =>
        val (conn, code) = openQuery(port, select)
        open += conn
        assert(code === 200)
        headerLine(conn)
      }
      val running = spark.streams.active.length
      val (refused, code) = openQuery(port, select)
      refused.disconnect()
      assert(code === 503)
      assert(spark.streams.active.length === running)
      // statements still run while every stream slot is taken
      assert(post(port, "/ksql", jsonBody(
        "INSERT INTO cap_ev VALUES ('1', 'GOAL');"))._1 === 200)

      open.remove(0).disconnect()
      eventually("no /query slot freed after a client disconnected") {
        val (conn, c) = openQuery(port, select)
        if (c == 200) open += conn else conn.disconnect()
        c == 200
      }
    } finally {
      open.foreach(_.disconnect())
      server.stop(0)
      engine.stopAll()
    }
  }

  /** Median round trip, in ms, of `requests` sent over ONE keep-alive
    * socket, each request in one write (a client that buffers its
    * request, as perfbench's harness does). Nagle's algorithm on the
    * server's socket holds each response's body until the client ACKs the
    * headers, which a delayed ACK puts off by about 40 ms.
    */
  private def medianRttMs(port: Int, requests: Seq[(String, String, String)]): Double = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def line(): String = {
        val b = new java.io.ByteArrayOutputStream
        var c = in.read()
        while (c >= 0 && c != '\n') { b.write(c); c = in.read() }
        b.toString(StandardCharsets.UTF_8).stripSuffix("\r")
      }
      val rtts = requests.map { case (method, path, body) =>
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        val req = (s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
          s"Content-Length: ${bytes.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++ bytes
        val t0 = System.nanoTime()
        out.write(req); out.flush()
        val status = line()
        val length = Iterator.continually(line()).takeWhile(_.nonEmpty).toList
          .collectFirst { case h if h.toLowerCase.startsWith("content-length:") =>
            h.drop("content-length:".length).trim.toInt
          }.get
        val reply = new String(in.readNBytes(length), StandardCharsets.UTF_8)
        val ms = (System.nanoTime() - t0) / 1e6
        assert(status.startsWith("HTTP/1.1 200"), s"$status $reply")
        assert(!reply.contains("\"error\""), reply)
        ms
      }.sorted
      rtts(rtts.size / 2)
    } finally sock.close()
  }

  test("keep-alive round trips on both planes skip the delayed-ACK wait") {
    import graft.ksql.KsqlStreamingEngine
    val ddl = """CREATE STREAM match_event (
      id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR,
      home boolean) WITH (KAFKA_TOPIC='match_event');"""
    val infos = Seq.fill(20)(("GET", "/info", ""))
    val inserts = Iterator.continually(Tutorial.canonicalEvents).flatten.take(20)
      .map { ev =>
        ("POST", "/ksql", jsonBody("INSERT INTO match_event VALUES " +
          s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});"))
      }.toSeq
    def check(plane: String, port: Int): Unit = {
      assert(post(port, "/ksql", jsonBody(ddl))._1 === 200)
      val info = medianRttMs(port, infos)
      val insert = medianRttMs(port, inserts)
      assert(info < 10.0, s"$plane: median /info round trip $info ms")
      assert(insert < 10.0, s"$plane: median INSERT round trip $insert ms")
    }
    val batch = KsqlServer.start(new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s)), 0)
    try check("batch", batch.getAddress.getPort) finally batch.stop(0)
    val engine = new KsqlStreamingEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val streaming = KsqlServer.startStreaming(engine, 0)
    try check("streaming", streaming.getAddress.getPort)
    finally {
      streaming.stop(0)
      engine.stopAll()
    }
  }

  test("json escaping survives quotes, backslashes, and control chars") {
    import spark.implicits._
    val engine = new KsqlEngine(spark,
      connectorProvider = (s, _) => Tutorial.playersSeed(s))
    val server = KsqlServer.start(engine, 0)
    val port = server.getAddress.getPort
    try {
      val (c, out) = post(port, "/ksql",
        jsonBody("""SET 'a' = 'quote " and tab	here';""" + "\n" +
          "SHOW TOPICS;"))
      assert(c === 200)
      assert(out.contains(""""status":"SUCCESS""""))
    } finally server.stop(0)
  }
}
