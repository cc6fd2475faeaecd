package perfbench

import com.sun.net.httpserver.HttpServer
import graft.ksql.{InsertValues, KsqlServer, KsqlStatement, KsqlStreamingEngine, PushHandle,
  PushQuery}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An engine call seen by a traced engine: which statement, when. */
final case class EngineCall(kind: String, seq: Long, start: Long, end: Long)

object EngineCall {
  def of(stmt: KsqlStatement, start: Long, end: Long): EngineCall = stmt match {
    case InsertValues(_, _, values) =>
      EngineCall("insert", scala.util.Try(values.last.trim.toLong).getOrElse(-1L), start, end)
    case _: PushQuery => EngineCall("push", -1L, start, end)
    case _ => EngineCall("other", -1L, start, end)
  }
}

/** The streaming engine with its public `execute` timed: the span at the
  * engine boundary of a traced run.
  */
final class TracedStreamingEngine(spark: SparkSession,
    provider: (SparkSession, Map[String, String]) => DataFrame)
  extends KsqlStreamingEngine(spark, connectorProvider = provider) {
  val calls = new ConcurrentLinkedQueue[EngineCall]()
  override def execute(stmt: KsqlStatement): Option[PushHandle] = {
    val t0 = System.nanoTime()
    try super.execute(stmt)
    finally calls.add(EngineCall.of(stmt, t0, System.nanoTime()))
  }
}

/** `ksql_push`: the streaming REST plane. One held-open `POST /query`
  * runs the player_stats push query; seeded INSERTs arrive on an open
  * loop at a fixed rate, then on a saturating closed loop, each over one
  * of `cores - 1` connections (all records of a player on one
  * connection, like a keyed producer).
  */
object PushBench {
  val Players = 60
  val WarmRecords = 30
  val RatePerS = 30.0

  final case class Sent(ev: Gen.Event, phase: String, rank: Long, due: Long,
      send: Long, ack: Long, ok: Boolean)

  private final class Rig(spark: SparkSession, players: Vector[Gen.Player], traced: Boolean) {
    private val playersDf = {
      import spark.implicits._
      players.map(p => (p.id, p.name, p.team, p.nationality)).toDF("id", "name", "team",
        "nationality")
    }
    private val provider = (_: SparkSession, _: Map[String, String]) => playersDf
    val engine: KsqlStreamingEngine =
      if (traced) new TracedStreamingEngine(spark, provider)
      else new KsqlStreamingEngine(spark, connectorProvider = provider)
    val server: HttpServer = KsqlServer.startStreaming(engine, 0)
    val port: Int = server.getAddress.getPort
    val rows = new ConcurrentLinkedQueue[Changelog.Row]()
    @volatile var streamError: Option[String] = None
    private val streamConn = new HttpConn(port)
    private var reader: Thread = _

    /** DDL over `/ksql`, then the push query over `/query`; returns once
      * the stream's header line has arrived.
      */
    def start(): Unit = {
      val ddl = new HttpConn(port)
      try {
        val (code, body) = ddl.postKsql("/ksql", Gen.PushDdl.mkString("\n"))
        require(code == 200 && !body.contains("\"error\""), s"DDL failed: $code $body")
      } finally ddl.close()
      val (code, in) = streamConn.openStream("/query", Gen.PushQuery)
      require(code == 200, s"/query answered $code")
      val header = Http.readLine(in)
      require(header != null && header.contains("columnNames"), s"bad header: $header")
      reader = new Thread(() => {
        try {
          var line = Http.readLine(in)
          while (line != null) {
            val now = System.nanoTime()
            if (line.startsWith("{\"row\"")) {
              val cells = Json.parse(line).asInstanceOf[Map[String, Any]]("row")
                .asInstanceOf[Map[String, Any]]("columns").asInstanceOf[Vector[Any]]
              rows.add(Changelog.Row(cells(0).toString,
                cells(5).asInstanceOf[BigDecimal].toLong, now, cells))
            }
            line = Http.readLine(in)
          }
        } catch {
          case _: java.net.SocketException => () // closed by stop()
          case e: Exception => streamError = Some(s"push stream: $e")
        }
      }, "push-stream-reader")
      reader.setDaemon(true)
      reader.start()
    }

    /** Close the stream (the server releases the push query), stop the
      * server and every query of the engine.
      */
    def stop(): Unit = {
      streamConn.close()
      if (reader != null) reader.join(10000)
      server.stop(0)
      engine.stopAll()
    }
  }

  def run(spark: SparkSession, a: Args, tracer: Tracer): Outcome = {
    val players = Gen.players(a.seed, Players)
    val probes = if (a.trace) Some(new Probes(spark)) else None
    val failures = new StreamProbe(keepProgress = false) // failed queries, traced or not
    if (probes.isEmpty) spark.streams.addListener(failures)
    val streamFailures = probes.map(_.stream).getOrElse(failures).failures

    Main.note("set-up")
    // set-up five times, keep the last rig
    val setups = mutable.ArrayBuffer.empty[Double]
    var rig: Rig = null
    for (_ <- 1 to 5) {
      if (rig != null) rig.stop()
      val t0 = System.nanoTime()
      rig = new Rig(spark, players, a.trace)
      rig.start()
      setups += (System.nanoTime() - t0) / 1e9
    }
    val conns = math.max(1, a.cores - 1)
    val pIndex = players.map(_.id).zipWithIndex.toMap
    def connOf(ev: Gen.Event): Int = pIndex(ev.playerId) % conns

    val sent = new ConcurrentLinkedQueue[Sent]()
    val ranks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def sendOne(c: HttpConn, ev: Gen.Event, phase: String, due: Long): Unit = {
      val t0 = System.nanoTime()
      val ok =
        try {
          val (code, body) = c.postKsql("/ksql", ev.insert)
          code == 200 && body.contains("SUCCESS")
        } catch { case _: java.io.IOException => false }
      val t1 = System.nanoTime()
      // only the connection that owns this key touches its rank
      val rank = if (ok) ranks.merge(ev.playerId, 1L, (x, y) => x + y).longValue else -1L
      sent.add(Sent(ev, phase, rank, due, t0, t1, ok))
    }
    /** Runs `work(connIndex, conn)` on every connection in parallel. */
    def onConns(work: (Int, HttpConn) => Unit): Unit = {
      val ts = (0 until conns).map { i =>
        val t = new Thread(() => {
          val c = new HttpConn(rig.port)
          try work(i, c) finally c.close()
        }, s"push-sender-$i")
        t.start(); t
      }
      ts.foreach(_.join())
    }
    def waitReflected(deadlineNs: Long): Unit = {
      def pending: Boolean = {
        val need = sent.asScala.filter(_.ok).groupBy(_.ev.playerId)
          .map { case (k, ss) => k -> ss.map(_.rank).max }
        val have = rig.rows.asScala.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.count).max }
        need.exists { case (k, n) => have.getOrElse(k, 0L) < n }
      }
      while (pending && System.nanoTime() < deadlineNs && rig.streamError.isEmpty)
        Thread.sleep(20)
    }

    Main.note("warm-up")
    // warm-up: JIT, codegen and the first micro-batches, untimed
    val warm = Gen.events(a.seed, players, 0L, WarmRecords)
    onConns((i, c) => warm.filter(connOf(_) == i).foreach(ev => sendOne(c, ev, "warm", 0L)))
    waitReflected(System.nanoTime() + 30000000000L)

    Main.note("open loop")
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    // open loop at the nominal rate; each record timed from its due time
    val openS = a.seconds * 0.6
    val nOpen = math.max(1, (openS * RatePerS).toInt)
    val open = Gen.events(a.seed, players, WarmRecords, nOpen)
    val t0 = System.nanoTime() + 50000000L
    val dueOf = open.indices.map(i => open(i).seq -> (t0 + (i / RatePerS * 1e9).toLong)).toMap
    onConns((i, c) => open.filter(connOf(_) == i).foreach { ev =>
      Main.sleepUntil(dueOf(ev.seq))
      sendOne(c, ev, "open", dueOf(ev.seq))
    })
    Main.note("saturation")
    // saturation: every connection sends its next record on each ack
    val satStart = System.nanoTime()
    val satEnd = satStart + (a.seconds * 0.4 * 1e9).toLong
    val pool = Gen.events(a.seed, players, WarmRecords + nOpen, 4000)
    onConns { (i, c) =>
      val mine = pool.iterator.filter(connOf(_) == i)
      while (System.nanoTime() < satEnd && mine.hasNext) {
        val ev = mine.next(); sendOne(c, ev, "sat", System.nanoTime())
      }
    }
    Main.note("drain")
    waitReflected(System.nanoTime() + 20000000000L)
    Main.note("drained")
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb
    val heapAfterGc = Jvm.heapAfterGcMb()
    val calls = rig.engine match {
      case t: TracedStreamingEngine => t.calls.asScala.toVector
      case _ => Vector.empty
    }
    val info = if (a.trace) infoRttMs(rig.port) else 0.0
    Main.note("stop")
    rig.stop()
    Main.note("stopped")
    Thread.sleep(300) // let the listener bus deliver the last progress events

    // ---- outputs, outside the timed interval ----------------------------
    val rows = rig.rows.asScala.toIndexedSeq
    val all = sent.asScala.toVector.sortBy(_.send)
    val okSent = all.filter(_.ok)
    val hit = Changelog.matchRecords(okSent.map(s => (s.ev.playerId, s.rank)), rows)
    val arrival: Map[Long, Long] = okSent.indices.collect {
      case i if hit(i) >= 0 => okSent(i).ev.seq -> rows(hit(i)).arrivalNs
    }.toMap
    val problems = mutable.ArrayBuffer.empty[String]
    rig.streamError.foreach(problems += _)
    streamFailures.asScala.foreach(e => problems += s"streaming query failed: ${e.take(200)}")
    if (!Changelog.monotone(rows, Seq(2, 3, 4, 5)))
      problems += "a key's changelog decreased"
    val tally = okSent.groupBy(_.ev.playerId)
    val last = Changelog.lastByKey(rows)
    tally.foreach { case (k, ss) =>
      val evs = ss.map(_.ev)
      val want = Vector(k, players(pIndex(k)).name,
        evs.count(_.eventType == "GOAL"), evs.count(_.eventType == "ASSIST"),
        evs.map(_.matchId).distinct.size, evs.size).map(_.toString)
      val got = last.get(k).map(_.cells.map(c => String.valueOf(c)))
      if (!got.contains(want)) problems += s"player $k: stream shows $got, expected $want"
    }
    if ((last.keySet -- tally.keySet).nonEmpty) problems += "rows for keys never inserted"
    val unreflected = okSent.count(s => !arrival.contains(s.ev.seq))
    if (unreflected > 0) problems += s"$unreflected records never reached the push stream"
    val measured = all.filter(_.phase != "warm")
    val failed = measured.count(s => !s.ok || !arrival.contains(s.ev.seq)).toLong

    val openOk = measured.filter(s => s.phase == "open" && arrival.contains(s.ev.seq))
    val lat = openOk.map(s => Main.ms(s.due, arrival(s.ev.seq)))
    def rtt(phase: String) = measured.filter(s => s.phase == phase && s.ok).map(s => Main.ms(s.send, s.ack))
    // INSERT round trips mix a fast and a ~40 ms mode (TCP acknowledgement
    // timing); after idle gaps the share of each varies from run to run,
    // back to back (saturation) it does not
    val insertRtt = rtt("sat")
    val satOk = measured.filter(s => s.phase == "sat" && arrival.contains(s.ev.seq))
    val satRps =
      if (satOk.isEmpty) 0.0
      else satOk.size / ((satOk.map(s => arrival(s.ev.seq)).max - satStart) / 1e9)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("heap_after_gc_mb", heapAfterGc, "MB"),
      Metric("write_ms", Stats.median(insertRtt), "ms"),
      Metric("read_ms", Stats.median(lat), "ms"),
      Metric("read_tail_ms", if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.9), "ms"),
      Metric("ops_per_s", satRps, "1/s"))

    val layers =
      if (!a.trace) Nil
      else {
        val p = probes.get
        val batches = p.stream.all.filter(_.inputRows > 0)
        traceSpans(tracer, measured, arrival, calls, batches)
        val self = Trace.medianSelfMs(tracer.spans)
        def dur(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
        val openLate = measured.filter(_.phase == "open").map(s => Main.ms(s.due, s.send))
        val batchOf = (seq: Long) => offsetOfSeq(calls).get(seq).flatMap(o =>
          batches.find(b => b.startOffset < o && o <= b.endOffset))
        val queue = measured.filter(_.ok).flatMap(s => batchOf(s.ev.seq)
          .map(b => Main.ms(s.ack, b.startNs)))
        val deliver = measured.filter(s => arrival.contains(s.ev.seq)).flatMap(s =>
          batchOf(s.ev.seq).map(b => Main.ms(b.sinkNs, arrival(s.ev.seq))))
        p.detach()
        Seq(
          Metric("rest.insert_rtt_ms", Stats.median(rtt("open")), "ms"),
          Metric("rest.insert_self_ms", self.getOrElse("rest.insert", 0.0), "ms"),
          Metric("rest.errors", all.count(!_.ok).toDouble, "count"),
          Metric("engine.stream_insert_ms",
            Stats.median(calls.filter(_.kind == "insert").map(c => Main.ms(c.start, c.end))), "ms"),
          Metric("engine.push_start_ms",
            Stats.median(calls.filter(_.kind == "push").map(c => Main.ms(c.start, c.end))), "ms"),
          Metric("stream.trigger_ms", dur("triggerExecution"), "ms"),
          Metric("stream.addBatch_ms", dur("addBatch"), "ms"),
          Metric("stream.walCommit_ms", dur("walCommit"), "ms"),
          Metric("stream.commitOffsets_ms", dur("commitOffsets"), "ms"),
          Metric("stream.queryPlanning_ms", dur("queryPlanning"), "ms"),
          Metric("stream.rows_per_batch", Stats.median(batches.map(_.inputRows.toDouble)), "count"),
          Metric("stream.batches", batches.size.toDouble, "count"),
          Metric("stream.state_rows", batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
          Metric("stream.state_mem_bytes",
            batches.lastOption.map(_.stateMemBytes.toDouble).getOrElse(0.0), "bytes"),
          Metric("stream.state_commit_ms", Stats.median(batches.map(_.stateCommitMs.toDouble)), "ms"),
          Metric("push.queue_ms", Stats.median(queue), "ms"),
          Metric("push.deliver_ms", Stats.median(deliver), "ms"),
          Metric("push.sink_rows", rows.size.toDouble, "count"),
          Metric("push.gen_late_ms", if (openLate.isEmpty) 0.0 else Stats.quantile(openLate, 0.9), "ms"),
          Metric("push.request_self_ms", self.getOrElse("push.request", 0.0), "ms"),
          Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
          Metric("jvm.heap_peak_mb", heapPeak, "MB"),
          Metric("rest.info_rtt_ms", info, "ms"))
      }
    Outcome(measured.size.toLong, failed, problems.toSeq, e2e, layers)
  }

  /** Topic offset of each inserted record: the n-th INSERT the engine
    * took (0-based) sits at offset n of the push query's input.
    */
  private def offsetOfSeq(calls: Seq[EngineCall]): Map[Long, Long] =
    calls.filter(_.kind == "insert").sortBy(_.start).zipWithIndex
      .map { case (c, i) => c.seq -> i.toLong }.toMap

  /** Median round trip of `GET /info`, which touches no engine code. */
  def infoRttMs(port: Int): Double = {
    val c = new HttpConn(port)
    try Stats.median((1 to 40).map { _ =>
      val t0 = System.nanoTime()
      c.request("GET", "/info")
      Main.ms(t0, System.nanoTime())
    }.drop(5))
    finally c.close()
  }

  /** One root span per measured record, from its due time to the row
    * that reflects it, with the client wait, the REST round trip (and the
    * engine call inside it), the micro-batch that read it and the
    * delivery to the client as children.
    */
  private def traceSpans(tracer: Tracer, measured: Seq[Sent], arrival: Map[Long, Long],
      calls: Seq[EngineCall], batches: Seq[StreamProbe.Batch]): Unit = {
    val callOf = calls.filter(_.kind == "insert").map(c => c.seq -> c).toMap
    val offsets = offsetOfSeq(calls)
    measured.filter(s => s.ok && arrival.contains(s.ev.seq)).foreach { s =>
      val ref = s"record-${s.ev.seq}"
      val end = arrival(s.ev.seq)
      // the row can beat the INSERT's reply to the client
      val root = tracer.add("push.request", s.due, math.max(end, s.ack), 0L, ref)
      tracer.add("client.wait", s.due, s.send, root, ref)
      val rest = tracer.add("rest.insert", s.send, s.ack, root, ref)
      callOf.get(s.ev.seq).foreach(c => tracer.add("engine.stream_insert", c.start, c.end, rest, ref))
      offsets.get(s.ev.seq).flatMap(o => batches.find(b => b.startOffset < o && o <= b.endOffset))
        .foreach { b =>
          // Spark reports batch times in whole ms: clip to the row's arrival
          val bEnd = math.min(b.sinkNs, end)
          tracer.add("stream.batch", math.min(b.startNs, bEnd), bEnd, root, ref)
          tracer.add("push.deliver", bEnd, end, root, ref)
        }
    }
  }
}
