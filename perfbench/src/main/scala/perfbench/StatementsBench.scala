package perfbench

import com.sun.net.httpserver.HttpServer
import graft.ksql.{KsqlEngine, KsqlParser, KsqlServer, KsqlStatement}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The batch engine with its public `execute` timed. */
final class TracedBatchEngine(spark: SparkSession,
    provider: (SparkSession, Map[String, String]) => DataFrame)
  extends KsqlEngine(spark, connectorProvider = provider) {
  val calls = new ConcurrentLinkedQueue[EngineCall]()
  override def execute(stmt: KsqlStatement): Option[DataFrame] = {
    val t0 = System.nanoTime()
    try super.execute(stmt)
    finally calls.add(EngineCall.of(stmt, t0, System.nanoTime()))
  }
}

/** `ksql_statements`: the batch REST plane. The tutorial's DDL runs in
  * set-up; then one closed-loop client — a CLI user waiting for every
  * reply — sends a seeded mix of INSERTs and converged
  * `SELECT … EMIT CHANGES` reads over the derived tables.
  */
object StatementsBench {
  val Players = 40
  val WarmStatements = 90
  val ScriptLength = 20000

  final case class Done(i: Int, stmt: Gen.Stmt, send: Long, ack: Long, code: Int, body: String)

  def run(spark: SparkSession, a: Args, tracer: Tracer): Outcome = {
    val players = Gen.players(a.seed, Players)
    val playersDf = {
      import spark.implicits._
      players.map(p => (p.id, p.name, p.team, p.nationality)).toDF("id", "name", "team",
        "nationality")
    }
    val provider = (_: SparkSession, _: Map[String, String]) => playersDf
    val probes = if (a.trace) Some(new Probes(spark)) else None

    Main.note("set-up")
    // set-up five times (engine, server, the tutorial's DDL); keep the last
    val setups = mutable.ArrayBuffer.empty[Double]
    var server: HttpServer = null
    var engine: KsqlEngine = null
    for (_ <- 1 to 5) {
      if (server != null) server.stop(0)
      val t0 = System.nanoTime()
      engine = if (a.trace) new TracedBatchEngine(spark, provider) else new KsqlEngine(spark,
        connectorProvider = provider)
      server = KsqlServer.start(engine, 0)
      val c = new HttpConn(server.getAddress.getPort)
      try {
        val (code, body) = c.postKsql("/ksql", Gen.StatementsDdl.mkString("\n"))
        require(code == 200 && !body.contains("\"error\""), s"DDL failed: $code $body")
      } finally c.close()
      setups += (System.nanoTime() - t0) / 1e9
    }
    val port = server.getAddress.getPort
    val script = Gen.statements(a.seed, players, 0L, ScriptLength)
    val conn = new HttpConn(port)
    val done = mutable.ArrayBuffer.empty[Done]
    def exec(i: Int): Unit = {
      val s = script(i)
      val t0 = System.nanoTime()
      val (code, body) = conn.postKsql("/ksql", s.text)
      done += Done(i, s, t0, System.nanoTime(), code, body)
    }
    Main.note("warm-up")
    // warm-up: the script's first statements, untimed but checked
    (0 until WarmStatements).foreach(exec)
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    probes.foreach(_.task.snapshot())
    probes.foreach(_.query.drain())
    Main.note("closed loop")
    val tStart = System.nanoTime()
    val tEnd = tStart + a.seconds * 1000000000L
    var i = WarmStatements
    while (System.nanoTime() < tEnd && i < script.size) { exec(i); i += 1 }
    val elapsed = (System.nanoTime() - tStart) / 1e9
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb
    val heapAfterGc = Jvm.heapAfterGcMb()
    val info = if (a.trace) PushBench.infoRttMs(port) else 0.0
    conn.close()
    server.stop(0)

    Main.note("checks")
    // ---- outputs, outside the timed interval ----------------------------
    val problems = mutable.ArrayBuffer.empty[String]
    val model = new Reference(players)
    var failed = 0L
    done.foreach { d =>
      val ok = d.stmt match {
        case Gen.Insert(ev) =>
          val good = d.code == 200 && d.body.contains("SUCCESS")
          if (good) model.insert(ev)
          good
        case r: Gen.Read =>
          val got = rowsOf(d.body)
          val want = model.expect(r)
          val key = (rs: Vector[Vector[String]]) => rs.map(_.mkString("\u0001")).sorted
          val same = got.exists(g => key(g) == key(want))
          if (!same && problems.size < 5)
            problems += s"statement ${d.i} (${r.text}): got ${got.map(_.take(4))}, " +
              s"expected ${want.take(4)}"
          same
      }
      if (!ok) {
        if (d.i >= WarmStatements) failed += 1
        if (problems.size < 5 && d.stmt.isInstanceOf[Gen.Insert])
          problems += s"statement ${d.i} failed: ${d.code} ${d.body.take(200)}"
      }
    }
    val measured = done.filter(_.i >= WarmStatements).toVector
    val inserts = measured.filter(_.stmt.isInstanceOf[Gen.Insert]).map(d => Main.ms(d.send, d.ack))
    val reads = measured.filter(_.stmt.isInstanceOf[Gen.Read]).map(d => Main.ms(d.send, d.ack))
    val readKinds = measured.filter(_.stmt.isInstanceOf[Gen.Read])
      .groupBy(d => kindOf(d.stmt)).map { case (k, ds) => k -> ds.map(d => Main.ms(d.send, d.ack)) }
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("heap_after_gc_mb", heapAfterGc, "MB"),
      Metric("write_ms", Stats.median(inserts), "ms"),
      // the four read kinds differ in cost: the median of their mixture
      // sits on a boundary between kinds, so combine the per-kind medians
      Metric("read_ms", Stats.geomean(readKinds.values.map(Stats.median).toSeq), "ms"),
      Metric("read_tail_ms", if (reads.isEmpty) 0.0 else Stats.quantile(reads, 0.9), "ms"),
      Metric("ops_per_s", measured.size / elapsed, "1/s"))

    val layers =
      if (!a.trace) Nil
      else {
        Thread.sleep(300) // let the listener bus deliver the last events
        val p = probes.get
        val calls = engine.asInstanceOf[TracedBatchEngine].calls.asScala.toVector
          .filter(_.start >= tStart)
        // closed loop: the engine call inside a round trip serves it
        measured.foreach { d =>
          val ref = s"statement-${d.i}:${kindOf(d.stmt)}"
          val kind = if (d.stmt.isInstanceOf[Gen.Insert]) "rest.insert" else "rest.select"
          val root = tracer.add(kind, d.send, d.ack, 0L, ref)
          calls.filter(c => c.start >= d.send && c.end <= d.ack).foreach { c =>
            tracer.add(if (c.kind == "insert") "engine.batch_insert" else "engine.batch_select",
              c.start, c.end, root, ref)
          }
        }
        val self = Trace.medianSelfMs(tracer.spans)
        val parseMs = measured.map(_.stmt.text).distinct.take(200).map { t =>
          Stats.median((1 to 15).map { _ =>
            val t0 = System.nanoTime()
            KsqlParser.splitStatements(t).foreach(KsqlParser.parse)
            Main.ms(t0, System.nanoTime())
          }.drop(5))
        }
        // Spark's figures per measured statement
        val qs = p.query.drain()
        val n = math.max(1, measured.size)
        def phase(k: String) = qs.map(_.phasesMs.getOrElse(k, 0L).toDouble).sum / n
        val ts = p.task.snapshot()
        p.detach()
        Seq(
          Metric("rest.info_rtt_ms", info, "ms"),
          Metric("rest.insert_rtt_ms", Stats.median(inserts), "ms"),
          Metric("rest.select_rtt_ms", Stats.median(reads), "ms"),
          Metric("rest.insert_self_ms", self.getOrElse("rest.insert", 0.0), "ms"),
          Metric("rest.select_self_ms", self.getOrElse("rest.select", 0.0), "ms"),
          Metric("rest.errors", measured.count(_.code != 200).toDouble, "count"),
          Metric("ksql.parse_ms", Stats.median(parseMs), "ms"),
          Metric("engine.batch_insert_ms",
            Stats.median(calls.filter(_.kind == "insert").map(c => Main.ms(c.start, c.end))), "ms"),
          Metric("engine.batch_select_ms",
            Stats.median(calls.filter(_.kind == "push").map(c => Main.ms(c.start, c.end))), "ms"),
          Metric("engine.log_rows", model.events.size.toDouble, "count"),
          Metric("spark.analysis_ms", phase("analysis"), "ms"),
          Metric("spark.optimization_ms", phase("optimization"), "ms"),
          Metric("spark.planning_ms", phase("planning"), "ms"),
          Metric("spark.exchanges", qs.map(_.exchanges.toDouble).sum / n, "count"),
          Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
          Metric("jvm.heap_peak_mb", heapPeak, "MB")) ++
          SuiteBench.taskMetrics(ts, elapsed, n)
      }
    Outcome(measured.size.toLong, failed, problems.toSeq, e2e, layers)
  }

  def kindOf(s: Gen.Stmt): String = s match {
    case _: Gen.Insert => "insert"
    case Gen.ReadPlayerStats => "player_stats"
    case _: Gen.ReadPlayer => "player"
    case Gen.ReadMatchResults => "match_results"
    case Gen.ReadWindows => "windows"
  }

  /** The `rows` of a one-statement `/ksql` reply, every cell as text. */
  def rowsOf(body: String): Option[Vector[Vector[String]]] =
    scala.util.Try {
      val res = Json.parse(body).asInstanceOf[Vector[Any]].head.asInstanceOf[Map[String, Any]]
      res("rows").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Vector[Any]]
        .map(c => String.valueOf(c)))
    }.toOption

  /** The converged state the generated script implies, kept in step
    * with the INSERTs the server acknowledged.
    */
  final class Reference(players: Vector[Gen.Player]) {
    val events = mutable.ArrayBuffer.empty[Gen.Event]
    private val names = players.map(p => p.id -> p.name).toMap
    def insert(ev: Gen.Event): Unit = events += ev

    private def playerRow(id: String, evs: Seq[Gen.Event]): Vector[String] =
      Vector(id, names(id), evs.count(_.eventType == "GOAL"), evs.count(_.eventType == "ASSIST"),
        evs.map(_.matchId).distinct.size, evs.size).map(_.toString)

    def expect(r: Gen.Read): Vector[Vector[String]] = r match {
      case Gen.ReadPlayerStats =>
        events.groupBy(_.playerId).map { case (k, evs) => playerRow(k, evs.toSeq) }.toVector
      case Gen.ReadPlayer(id) =>
        val evs = events.filter(_.playerId == id).toSeq
        if (evs.isEmpty) Vector.empty else Vector(playerRow(id, evs))
      case Gen.ReadMatchResults =>
        events.groupBy(_.matchId).map { case (m, evs) =>
          val goals = evs.filter(_.eventType == "GOAL")
          Vector(m, goals.count(_.home).toString, goals.count(!_.home).toString)
        }.toVector
      case Gen.ReadWindows =>
        // record n of the log has ROWTIME = epoch base + n seconds; the
        // converged read shows one (id, count) row per id and window
        events.zipWithIndex.groupBy { case (ev, n) => (ev.matchId, n / 60) }
          .map { case ((m, _), evs) => Vector(m, evs.size.toString) }.toVector
    }
  }
}
