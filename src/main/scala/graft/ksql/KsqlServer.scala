package graft.ksql

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The REST plane: a minimal HTTP listener over [[KsqlEngine]] — the
  * engine's analogue of the ksqlDB server the reference's CLI connects to
  * (`ksql http://ksqldb-server:8088`, reference README.md:30-33;
  * `files/ksqldb-server/ksql-server.properties:1` `listeners=...8088`).
  * Built on the JDK's own `com.sun.net.httpserver` — no dependencies.
  *
  * Endpoints (ksqlDB-shaped, simplified):
  *  - `POST /ksql` with body `{"ksql": "<statements>"}` → a JSON array,
  *    one object per `;`-terminated statement: `{"statement": …,
  *    "columns": […], "rows": [[…]]}` for queries/SHOW, `{"statement":…,
  *    "status": "SUCCESS"}` for DDL/INSERT, `{"statement":…, "error":…}`
  *    for rejections (the session continues — same contract as the CLI).
  *  - `GET /info` → engine identification, like ksqlDB's server info.
  *
  * Statements execute against ONE engine instance (the server IS the
  * session, as in ksqlDB): handlers serialize on it, so concurrent
  * clients see a consistent catalog. Both planes share one handler set
  * ([[serve]]); [[start]] serves the batch engine's converged states,
  * [[startStreaming]] the live-changelog plane — `POST /query` holds a
  * chunked response open and streams push-query rows as they emit (see
  * its scaladoc).
  *
  * Accepted sockets run with TCP_NODELAY. A response goes out as two TCP
  * writes (the headers from `sendResponseHeaders`, then the body), and
  * with Nagle's algorithm on, the body waits for the client's delayed ACK
  * of the headers: about 40 ms on every request/response round trip over
  * a keep-alive connection. The JDK server takes the switch only from the
  * `sun.net.httpserver.nodelay` system property, which it reads once,
  * when `sun.net.httpserver.ServerConfig` loads (at the first
  * `HttpServer.create` in the JVM). So this object sets it in its
  * initializer, which runs before [[serve]] can create a server.
  */
object KsqlServer {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  // ---- minimal JSON (no deps) ---------------------------------------

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) s""""$d"""" else d.toString
    case f: Float => jsonValue(f.toDouble)
    case bd: java.math.BigDecimal => bd.toPlainString
    // structured column values render as JSON structures, not Scala
    // debug strings — a ksqlDB-shaped client must be able to parse them
    case seq: scala.collection.Seq[_] =>
      seq.map(jsonValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, value) =>
        s""""${jsonEscape(String.valueOf(k))}":${jsonValue(value)}"""
      }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.schema match {
        case null => r.toSeq.map(jsonValue).mkString("[", ",", "]")
        case s => s.fieldNames.zip(r.toSeq).map { case (n, value) =>
          s""""${jsonEscape(n)}":${jsonValue(value)}"""
        }.mkString("{", ",", "}")
      }
    case other => s""""${jsonEscape(other.toString)}""""
  }

  /** Extract the string value of `"ksql"` from a JSON object body —
    * a real tokenizer for the one field we need (quotes and escapes in
    * the statement text must survive; a regex would not).
    */
  private[graft] def extractKsqlField(body: String): Option[String] = {
    // scan STRING TOKENS, not substrings: '"ksql"' inside another
    // field's value (e.g. {"note":"about \"ksql\"","ksql":"..."}) must
    // not bind as the key, so the key test is "complete string token
    // whose decoded value is ksql, followed by ':'" — AND only at
    // nesting depth 1: a ksql key buried in a sub-object
    // (e.g. {"streamsProperties":{"ksql":"..."}}) is some other
    // field's payload, not a statement, and executing it would let a
    // property bag smuggle SQL past a proxy that inspects only the
    // top-level field. A malformed \u escape returns None (→ the
    // caller's 400), never an exception.
    var i = 0
    var depth = 0
    def skipWs(): Unit =
      while (i < body.length && body.charAt(i).isWhitespace) i += 1
    // decodes the string token starting at body(i) == '"'; leaves i one
    // past the closing quote, or returns None at EOF/bad escape
    def stringToken(): Option[String] = {
      i += 1
      val sb = new StringBuilder
      while (i < body.length && body.charAt(i) != '"') {
        body.charAt(i) match {
          case '\\' if i + 1 < body.length =>
            body.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case 'u' =>
                if (i + 5 >= body.length) return None
                val hex = body.substring(i + 2, i + 6)
                if (!hex.forall(c => Character.digit(c, 16) >= 0)) return None
                sb.append(Integer.parseInt(hex, 16).toChar); i += 6
              case c => sb.append(c); i += 2
            }
          case c => sb.append(c); i += 1
        }
      }
      if (i >= body.length) None else { i += 1; Some(sb.result()) }
    }
    while (i < body.length) {
      body.charAt(i) match {
        case '"' =>
          val tok = stringToken().getOrElse(return None)
          val before = i
          skipWs()
          if (depth == 1 && tok == "ksql" && i < body.length &&
            body.charAt(i) == ':') {
            i += 1; skipWs()
            if (i >= body.length || body.charAt(i) != '"') return None
            return stringToken()
          }
          i = before // a value string: resume right after it
        // string contents never reach here (stringToken consumed them),
        // so every brace/bracket seen is structural
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** Largest request body either plane accepts: far above any
    * interactive script (the tutorial's whole all.sql is about 6 KB),
    * small enough that one request cannot exhaust the heap.
    */
  private[graft] val MaxBodyBytes: Int = 1 << 20

  /** The request body, read once and at most [[MaxBodyBytes]]. A larger
    * body is answered 413 here and yields None.
    */
  private def readBody(ex: HttpExchange): Option[String] = {
    val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bytes.length <= MaxBodyBytes) Some(new String(bytes, StandardCharsets.UTF_8))
    else {
      respond(ex, 413, s"""{"error":"request body exceeds $MaxBodyBytes bytes"}""")
      None
    }
  }

  /** ONE response protocol for both serving planes — a header or
    * error-draining change must not land on one plane only.
    */
  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def resultJson(statement: String, df: Option[DataFrame]): String =
    df match {
      case Some(d) =>
        val cols = d.columns.map(c => s""""${jsonEscape(c.toUpperCase)}"""")
          .mkString("[", ",", "]")
        val rows = d.collect().map(_.toSeq.map(jsonValue)
            .mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        s"""{"statement":${jsonValue(statement)},"columns":$cols,"rows":$rows}"""
      case None =>
        s"""{"statement":${jsonValue(statement)},"status":"SUCCESS"}"""
    }

  private def errorJson(message: String): String =
    s"""{"error":${jsonValue(message)}}"""

  /** The request prelude every statement endpoint shares: POST only,
    * bounded body, a top-level `"ksql"` string field. Yields the script,
    * or None once the 4xx answer has been sent.
    */
  private def readScript(ex: HttpExchange): Option[String] =
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, errorJson("use POST")); None
    } else readBody(ex).flatMap { body =>
      val script = extractKsqlField(body)
      if (script.isEmpty)
        respond(ex, 400, """{"error":"body must be {\"ksql\": \"...\"}"}""")
      script
    }

  /** Create and start the one server both planes run on. `/ksql` executes each
    * `;`-terminated statement through `exec` while holding `session`'s
    * monitor for the WHOLE script: one engine = one session, so another
    * client's statements never interleave into this script's
    * create/insert/select sequence (half-built catalog reads). On the
    * streaming plane the lock also spans the push-query drain (a
    * script's SELECT must see exactly the script's own INSERTs), so a
    * slow push query stalls other clients — fine for the interactive
    * statement plane this models. `/info` answers `info`; `routes` adds
    * plane-specific endpoints.
    *
    * Handlers run on a cached pool of daemon threads: an open `/query`
    * response must not block the `/ksql` INSERTs that feed it, and an
    * idle pool never keeps the JVM alive after `server.stop`.
    */
  private def serve(port: Int, session: AnyRef,
      exec: KsqlStatement => Option[DataFrame], info: String,
      routes: (String, HttpExchange => Unit)*): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-ksql-handler")
      t.setDaemon(true)
      t
    })
    val ksql = (ex: HttpExchange) =>
      try readScript(ex).foreach { script =>
        val results = session.synchronized {
          KsqlParser.splitStatements(script).map { s =>
            try resultJson(s, exec(KsqlParser.parse(s)))
            catch { case e: Exception =>
              s"""{"statement":${jsonValue(s)},""" +
                s""""error":${jsonValue(e.getMessage)}}"""
            }
          }
        }
        respond(ex, 200, results.mkString("[", ",", "]"))
      } catch { case e: Exception => respond(ex, 500, errorJson(e.getMessage)) }
    val handlers = Seq("/ksql" -> ksql,
      "/info" -> ((ex: HttpExchange) => respond(ex, 200, info))) ++ routes
    handlers.foreach { case (path, handle) =>
      server.createContext(path, (ex: HttpExchange) => try handle(ex) finally ex.close())
    }
    server.start()
    server
  }

  /** Start the batch plane bound to `port` (0 = ephemeral; read the bound
    * port off the returned server). The caller owns the engine's
    * lifecycle.
    */
  def start(engine: KsqlEngine, port: Int): HttpServer =
    serve(port, engine, engine.execute(_: KsqlStatement),
      """{"KsqlServerInfo":{"version":"graft","kafkaClusterId":"n/a",""" +
        """"ksqlServiceId":"graft_spark_"}}""")

  /** Most `/query` streams one streaming server holds open at once. Each
    * is a standing Structured Streaming query plus a handler thread; past
    * the cap a request is answered 503 before any query starts.
    */
  private[graft] val MaxPushStreams: Int = 8

  /** The STREAMING serving plane — ksqlDB's push-query interaction over
    * HTTP (reference README.md:94-118: `SELECT … EMIT CHANGES;` and rows
    * keep arriving; `files/ksqldb-server/ksql-server.properties:1` is
    * the listener this models):
    *
    *  - `POST /query` with `{"ksql": "SELECT … EMIT CHANGES;"}` answers
    *    with CHUNKED transfer encoding and streams newline-delimited
    *    JSON — one header line `{"queryId":…,"columnNames":[…]}`, then
    *    one `{"row":{"columns":[…]}}` line per emitted changelog row,
    *    held OPEN: INSERTs posted while the response is open appear as
    *    further chunks (the ksqlDB `/query-stream` delimited shape,
    *    simplified). Rows leave as each micro-batch lands; a blank
    *    heartbeat line goes out at least every 100 ms so a closed
    *    client is detected promptly; disconnect stops the standing
    *    query. At most [[MaxPushStreams]] are open at once.
    *  - `POST /ksql` executes statements on the SAME streaming engine
    *    (one engine = one session, as in ksqlDB): DDL/INSERT → status,
    *    push queries → [[KsqlStreamingEngine.executeDrained]] (the
    *    streaming REPL's contract — the changelog so far).
    */
  def startStreaming(engine: KsqlStreamingEngine, port: Int): HttpServer = {
    val slots = new java.util.concurrent.Semaphore(MaxPushStreams)
    serve(port, engine, engine.executeDrained,
      """{"KsqlServerInfo":{"version":"graft","kafkaClusterId":"n/a",""" +
        """"ksqlServiceId":"graft_spark_","plane":"streaming"}}""",
      "/query" -> { ex =>
        if (!slots.tryAcquire())
          respond(ex, 503, errorJson(s"at most $MaxPushStreams push queries stream at once"))
        else try streamQuery(engine, ex) finally slots.release()
      })
  }

  /** One held-open `/query` response (see [[startStreaming]]). */
  private def streamQuery(engine: KsqlStreamingEngine, ex: HttpExchange): Unit = {
    val script = readScript(ex).getOrElse(return)
    val stmts = KsqlParser.splitStatements(script)
    val parsed =
      try {
        require(stmts.size == 1,
          s"/query takes exactly one statement, got ${stmts.size}")
        KsqlParser.parse(stmts.head)
      } catch { case e: Exception =>
        respond(ex, 400, errorJson(e.getMessage)); return
      }
    if (!parsed.isInstanceOf[PushQuery]) {
      respond(ex, 400, """{"error":"/query serves push queries """ +
        """(SELECT ... EMIT CHANGES;) - use /ksql for statements"}""")
      return
    }
    val h =
      try engine.synchronized { engine.execute(parsed).get }
      catch { case e: Exception =>
        respond(ex, 400, errorJson(e.getMessage)); return
      }
    // from here on the handle exists: EVERYTHING — including the
    // chunked handshake, which throws IOException if the client
    // already disconnected — runs inside the try whose finally
    // releases, or the aborted connection leaks a standing query
    try {
      ex.getResponseHeaders.set("Content-Type",
        "application/json; charset=utf-8")
      ex.sendResponseHeaders(200, 0) // length 0 => chunked, held open
      val os = ex.getResponseBody
      try {
        h.processAllAvailable()
        val cols = h.emissions.columns
          .map(c => s""""${jsonEscape(c.toUpperCase)}"""")
          .mkString("[", ",", "]")
        os.write((s"""{"queryId":${jsonValue(h.name)},""" +
          s""""columnNames":$cols}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
        os.flush()
        // wait-and-stream: every new changelog row becomes one chunk, in
        // emission order (the changelog keeps batches in batch-id order).
        // Each drain is INCREMENTAL — O(rows landed since the last
        // drain), zero Spark jobs — so a long-lived connection's total
        // serving cost is O(rows emitted), not O(changelog²). The loop
        // never calls processAllAvailable: it waits on the changelog,
        // which wakes it as each batch lands, for at most the 100 ms
        // heartbeat. The blank heartbeat makes a closed client surface as
        // IOException on flush even when no rows are arriving, and a
        // query stopped under the handler (engine shutdown) ends the
        // response after one final drain instead of spinning until a
        // write fails.
        var cursor = -1L
        var more = true
        while (more) {
          more = h.query.isActive
          val (rows, next) = h.drainSince(cursor)
          cursor = next
          rows.foreach { r =>
            val cells = r.toSeq.map(jsonValue).mkString("[", ",", "]")
            os.write((s"""{"row":{"columns":$cells}}""" + "\n")
              .getBytes(StandardCharsets.UTF_8))
          }
          os.write('\n'.toInt); os.flush()
          if (more) h.changelog.awaitPast(cursor, 100)
        }
      } finally {
        try os.close() catch { case _: java.io.IOException => () }
      }
    } catch {
      case _: java.io.IOException => () // client closed: normal end
    } finally {
      // release, not stop: the handle holds this connection's full
      // changelog — a server field-tested only by short tests would
      // leak one changelog per connection served
      engine.release(h)
    }
  }

  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_KSQL_PORT", "8088").toInt
    val (spark, provider) = KsqlRepl.interactiveSession("graft-ksql-server")
    // GRAFT_SERVER_ENGINE=streaming serves the live-changelog plane:
    // /query streams push-query rows over a chunked response (the same
    // switch the REPL uses, GRAFT_REPL_ENGINE=streaming)
    val server =
      if (sys.env.get("GRAFT_SERVER_ENGINE").contains("streaming"))
        startStreaming(new KsqlStreamingEngine(spark,
          connectorProvider = provider), port)
      else
        start(new KsqlEngine(spark, connectorProvider = provider), port)
    println(s"graft ksql server listening on " +
      s"http://localhost:${server.getAddress.getPort} " +
      "(POST /ksql; streaming plane also POST /query)")
    Thread.currentThread().join() // serve until killed
  }
}
