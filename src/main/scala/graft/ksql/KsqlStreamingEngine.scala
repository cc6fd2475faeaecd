package graft.ksql

import graft.engine.{NioCheckpointFileManager, TableOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The rows one push query emitted (append rows, or the update-mode
  * changelog), per micro-batch in batch-id order. The query's
  * `foreachBatch` sink [[append]]s each batch and wakes the readers
  * waiting in [[awaitPast]]; reads take the same monitor, so `(rows,
  * cursor)` is one consistent snapshot. A standing query keeps every
  * row it emitted until it is released (the changelog IS its result).
  */
final class Changelog(val schema: StructType) {
  private val batches = mutable.ArrayBuffer.empty[(Long, Array[Row])]
  private var lastBatchId = -1L

  /** Keep `rows` as batch `batchId` and wake every waiting reader. A
    * batch id at or below the last one kept is a replay (Structured
    * Streaming re-runs a batch whose commit did not land under the same
    * id) and is ignored, so no row is kept twice.
    */
  def append(batchId: Long, rows: Array[Row]): Unit = synchronized {
    if (batchId > lastBatchId) {
      if (rows.nonEmpty) batches += batchId -> rows
      lastBatchId = batchId
      notifyAll()
    }
  }

  /** Rows of the batches past `cursor` (a batch id; -1 = from the
    * beginning) and the new cursor. Walks back from the newest batch, so
    * it costs the new rows, not the whole changelog.
    */
  def since(cursor: Long): (Seq[Row], Long) = synchronized {
    val from = batches.lastIndexWhere(_._1 <= cursor) + 1
    (batches.view.drop(from).flatMap(_._2).toVector, lastBatchId)
  }

  /** Wait until a batch past `cursor` is kept, or `ms` pass. */
  def awaitPast(cursor: Long, ms: Long): Unit = synchronized {
    if (lastBatchId <= cursor) wait(ms)
  }
}

/** One live push query and the [[Changelog]] its sink fills. */
final case class PushHandle(spark: SparkSession, name: String,
    query: StreamingQuery, changelog: Changelog) {
  /** Block until everything inserted so far is processed. */
  def processAllAvailable(): Unit = query.processAllAvailable()
  /** Every emitted row so far, as a local DataFrame with the schema the
    * query started with; it stays readable after the query stops.
    */
  def emissions: DataFrame =
    spark.createDataFrame(changelog.since(-1L)._1.asJava, changelog.schema)
  /** Drain changelog rows from batches PAST `cursor` (a batchId; -1 =
    * from the beginning), returning `(rows, newCursor)`. O(new rows)
    * and driver-only (no Spark job), so a long-lived `/query` connection
    * pays each read for what landed since its last read, not for the
    * whole changelog (which is O(n²) over the connection's lifetime).
    */
  def drainSince(cursor: Long): (Seq[Row], Long) = changelog.since(cursor)
  def stop(): Unit = query.stop()
}

/** Enables LIVE `CREATE SOURCE CONNECTOR` execution: a connector declared
  * with `mode=incrementing` starts a real [[graft.engine.Sources.jdbcPollingSource]]
  * loop instead of taking a one-shot snapshot. `ticks` is a factory for
  * the pacing stream — one fresh streaming DataFrame per connector
  * (production: `spark.readStream.format("rate")` at the poll interval;
  * tests: a MemoryStream advanced deterministically); `root` is where
  * each connector's topic landing + checkpoint live. `pollEveryMs` caps
  * the poll cadence via the query trigger — the correct lever for "poll
  * the database every N ms" (a slower tick ROW rate still polls once per
  * micro-batch, so rate-source row counts alone cannot slow polling
  * below one per batch).
  */
final case class LivePolling(ticks: () => DataFrame, root: String,
    pollEveryMs: Option[Long] = None)

/** Continuous-execution KSQL: push queries run as real Structured
  * Streaming jobs — `EMIT CHANGES` actually emits changes.
  *
  * Topics are `MemoryStream`s of (json value, offset) records — the
  * in-process Kafka-log analogue, carrying the same JSON wire format the
  * reference uses (`VALUE_FORMAT='JSON'`, all.sql:29,41); declared stream
  * views deserialize with `from_json` exactly like the Kafka source path
  * (`Sources.fromKafkaJson`). Dimension TABLEs over connector-fed topics
  * are static snapshots (the tutorial's MySQL data is static after
  * init.sql — SURVEY §7.5 pt.1), so stream-table joins are stream-static.
  *
  * A push query returns a [[PushHandle]]: an update-mode (aggregations)
  * or append-mode (stateless) StreamingQuery whose `foreachBatch` sink
  * fills the handle's [[Changelog]], keyed by batch id. `COUNT_DISTINCT`
  * translates to the size of a `collect_set`, because Spark's
  * count-distinct rewrite is unsupported under streaming aggregation.
  *
  * A topic is one ordered log, that is one partition, and a ksqlDB
  * query's parallelism follows its topic's partition count. So each
  * topic attachment is a one-partition `MemoryStream` (a micro-batch
  * reads one source partition however many INSERTs it carries) and each
  * push query keeps one state partition per stateful operator. A push
  * query's checkpoint is a temporary directory, written through
  * [[NioCheckpointFileManager]]: a micro-batch forks no process, and
  * each checkpoint file still lands by an atomic rename.
  *
  * Scope: this engine executes the DATA-PLANE statements (DDL, INSERT,
  * push queries). Metadata/lifecycle statements (SHOW, DESCRIBE, PRINT,
  * EXPLAIN, DROP, TERMINATE) live on [[KsqlEngine]]; submitting one here
  * fails with a clear unsupported-statement error.
  */
class KsqlStreamingEngine(
    val spark: SparkSession,
    connectorProvider: (SparkSession, Map[String, String]) => DataFrame =
      KsqlEngine.jdbcConnectorProvider,
    livePolling: Option[LivePolling] = None) extends KsqlTranslator[PushHandle] {
  import KsqlTranslator.{connectorTopic, jdbcOptions, topicOf}

  /** A declared stream: the durable record buffer (the topic log) plus
    * every MemoryStream currently attached to it. Each push query gets
    * its OWN attached stream replaying the buffer — MemoryStream trims
    * its shared batch list on commit, so two queries reading one instance
    * race on committed offsets (rows lost or out-of-order commit errors).
    *
    * An attachment's `owner` is the push query whose resolved plan bound
    * to it (None until claimed, or for the CREATE-time view binding).
    * Attachments whose owner has stopped are pruned before every INSERT
    * fan-out and push-query attach — without that, session memory grows
    * O(queries × records) and every INSERT pays dead fan-out.
    */
  private case class Attachment(input: MemoryStream[(String, Long)],
      var owner: Option[StreamingQuery])
  private case class StreamDecl(name: String, cols: Seq[ColumnDef],
      topic: String,
      buffer: mutable.ArrayBuffer[(String, Long)],
      attached: mutable.ArrayBuffer[Attachment])

  /** Connector-fed topics as LAZY DataFrames (with `_offset`) — never
    * collected to the driver; a 100 TB snapshot stays distributed.
    */
  private val topics = mutable.LinkedHashMap.empty[String, DataFrame]
  /** Live connector-fed topics: topic → landing dir (appended by the
    * connector's polling loop, consumed as a file-streaming source).
    */
  private val liveTopics = mutable.LinkedHashMap.empty[String, String]
  private val pollers = mutable.ArrayBuffer.empty[StreamingQuery]
  /** Stream decls bound to live topics: no MemoryStream, no INSERT —
    * records arrive from the database through the polling loop only.
    */
  private val liveStreamDecls = mutable.LinkedHashMap.empty[String, Decl]
  private val streamDecls = mutable.LinkedHashMap.empty[String, StreamDecl]
  private val tableDecls = mutable.LinkedHashMap.empty[String, Decl]
  private val offsets = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val handles = mutable.ArrayBuffer.empty[PushHandle]
  private var queryId = 0

  protected def declared(name: String): Option[Decl] = {
    val n = name.toLowerCase
    streamDecls.get(n).map(d => Decl("STREAM", d.name, d.cols, d.topic))
      .orElse(liveStreamDecls.get(n)).orElse(tableDecls.get(n))
  }

  /** Decode a `(value json, _offset)` wire DataFrame — the one topic
    * shape shared by MemoryStream logs, live polling landings, and the
    * Kafka path — into the declared columns + `_rowtime`. `jsonKey` maps
    * a declared column name to its JSON key: identity for INSERT-fed
    * topics (INSERT writes keys in declared case), `toLowerCase` for
    * JDBC-polled topics (the poller lower-cases the folded-upper
    * identifiers JDBC engines return).
    */
  private def wireDecode(wire: DataFrame, cols: Seq[ColumnDef],
      jsonKey: String => String = identity): DataFrame = {
    val valueSchema =
      StructType(cols.map(c => StructField(jsonKey(c.name), c.dataType)))
    withRowtime(wire
      .select(from_json(col("value"), valueSchema).as("_v"), col("_offset"))
      .select(cols.map(c => col(s"_v.${jsonKey(c.name)}").as(c.name)) :+
        col("_offset"): _*))
  }

  /** Attach a fresh MemoryStream to a declared stream: replay the buffer,
    * re-register the collection view over it. Already-started queries keep
    * their resolved plans (bound to their own attached streams).
    *
    * `watermarked` registers the view with a zero-delay watermark on
    * `_rowtime` — required for SESSION-window aggregations (Spark only
    * supports session windows in append mode, which needs a watermark to
    * close sessions). Zero delay is exact here because rowtime derives
    * from the topic offset, so event time is monotone by construction —
    * nothing is ever late.
    */
  private def attachStream(d: StreamDecl, watermarked: Boolean = false): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // one partition: without a count, MemoryStream makes every addData
    // call (one per INSERT) its own input partition, and a micro-batch
    // of N INSERTs would run N source tasks
    val input = MemoryStream[(String, Long)](1)
    if (d.buffer.nonEmpty) input.addData(d.buffer.toSeq: _*)
    val base = wireDecode(input.toDF().toDF("value", "_offset"), d.cols)
    (if (watermarked) base.withWatermark("_rowtime", "0 seconds") else base)
      .createOrReplaceTempView(d.name)
    d.attached += Attachment(input, None)
  }

  /** Drop attachments bound to stopped queries (their plans are gone; the
    * streams would only accumulate every future INSERT).
    */
  private def pruneDead(d: StreamDecl): Unit =
    d.attached.filterInPlace(_.owner.forall(_.isActive))

  private val WireSchema = StructType(Seq(StructField("value", StringType),
    StructField("_offset", LongType)))

  /** (Re-)register a live-topic stream view: the landing consumed as a
    * file-streaming source through the same wire decode as a MemoryStream
    * topic. Unlike MemoryStream attachments, a file source is freely
    * shared — each push query tracks its own file offsets — so re-attach
    * isolation is unnecessary; re-registration only toggles the watermark
    * (same zero-delay exactness argument as [[attachStream]]).
    */
  private def registerLiveView(d: Decl, watermarked: Boolean = false): Unit = {
    val wire = spark.readStream.schema(WireSchema)
      .parquet(liveTopics(d.topic))
    val base = wireDecode(wire, d.cols, _.toLowerCase)
    (if (watermarked) base.withWatermark("_rowtime", "0 seconds") else base)
      .createOrReplaceTempView(d.name)
  }

  /** (Re-)register a TABLE view. Over a static connector snapshot the
    * base is the captured topic; over a LIVE topic it is a fresh BATCH
    * read of the polling landing — the dimension reflects every row
    * polled so far each time it re-registers (at CREATE and before each
    * push query), so a database insert reaches the next query's
    * stream–table join without restart. A RUNNING query keeps its
    * resolve-time snapshot (stream–static join semantics, same contract
    * as the snapshot path).
    */
  private def registerTableView(td: Decl): Unit = {
    val projected = liveTopics.get(td.topic) match {
      case Some(landing) =>
        wireDecode(spark.read.schema(WireSchema).parquet(landing),
          td.cols, _.toLowerCase)
      case None =>
        val base = topics.getOrElse(td.topic,
          throw new NoSuchElementException(s"topic ${td.topic} has no " +
            "data; streaming tables must be connector-fed"))
        withRowtime(
          base.select(td.cols.map(c => col(c.name)) :+ col("_offset"): _*))
    }
    TableOps.latestByKey(projected, td.cols.filter(_.isKey).map(_.name), "_offset")
      .createOrReplaceTempView(td.name)
  }

  /** Exact streaming count-distinct: Spark rejects native
    * count(DISTINCT) under streaming aggregation, so the argument (whole
    * — it may contain calls/parens) casts to STRING into a `collect_set`
    * whose size is the count, cast to BIGINT like `count(DISTINCT)`.
    */
  override protected def countDistinctRender(args: String): String =
    s"CAST(size(collect_set(CAST(($args) AS STRING))) AS BIGINT)"

  def execute(stmt: KsqlStatement): Option[PushHandle] = stmt match {
    case SetProperty(_, _) => None

    case CreateConnector(_, props) =>
      val topic = connectorTopic(props)
      livePolling match {
        case Some(lp) if props.get("mode").contains("incrementing") =>
          // LIVE connector: start the real polling loop; the topic is its
          // landing directory, consumed below as a file-streaming source.
          // Matches the reference's running Connect worker — new database
          // rows keep arriving while queries run (all.sql:10-12).
          val landing = s"${lp.root}/$topic/landing"
          val fs = new Path(landing)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.mkdirs(new Path(landing)) // file source needs the dir to exist
          pollers += graft.engine.Sources.jdbcPollingSource(
            lp.ticks(), props("connection.url"), props("table.whitelist"),
            props.getOrElse("incrementing.column.name",
              throw new IllegalArgumentException(
                "mode=incrementing needs incrementing.column.name")),
            landing, s"${lp.root}/$topic/ckpt", jdbcOptions(props),
            pollEveryMs = lp.pollEveryMs)
          liveTopics(topic) = landing
          // a STREAM may legally be declared before its connector (ksqlDB
          // binds by topic name): rebind any empty pre-declared stream on
          // this topic to the live landing; one that already holds
          // INSERTed rows cannot be silently re-sourced — refuse loudly
          streamDecls.filterInPlace { case (_, d) =>
            if (d.topic != topic) true
            else {
              require(d.buffer.isEmpty && d.attached.forall(_.owner.isEmpty),
                s"stream ${d.name} already carries INSERTed rows or live " +
                  s"queries; cannot rebind it to live topic $topic")
              val live = Decl("STREAM", d.name, d.cols, topic)
              liveStreamDecls(d.name.toLowerCase) = live
              registerLiveView(live)
              false
            }
          }
          // pre-declared TABLEs on this topic re-point at the landing
          tableDecls.values.filter(_.topic == topic)
            .foreach(registerTableView)
        case _ =>
          // shared log-column derivation with the batch engine (the
          // extra _rowtime is dropped by the TABLE projection)
          topics(topic) = withLogColumns(connectorProvider(spark, props))
      }
      None

    case CreateCollection("STREAM", name, cols, props)
        if liveTopics.contains(topicOf(name, props)) =>
      // stream over a LIVE topic: the view reads the landing as a file
      // stream through the same wire decode as a MemoryStream topic —
      // rows INSERTed into the database surface here continuously
      val d = Decl("STREAM", name, cols, topicOf(name, props))
      liveStreamDecls(name.toLowerCase) = d
      registerLiveView(d)
      None

    case CreateCollection("STREAM", name, cols, props) =>
      val topic = topicOf(name, props)
      // ONE log per topic: a second stream declared over the same
      // KAFKA_TOPIC shares the first's record buffer (same rows, same
      // offsets, history replayed) — two consumers of one Kafka topic,
      // not two topics that happen to share a name. Without the share,
      // INSERT INTO s1 was invisible to s2, a silent plane divergence
      // from the batch engine (whose topic log is keyed by topic).
      val buffer = streamDecls.values.find(_.topic == topic).map(_.buffer)
        .getOrElse(mutable.ArrayBuffer.empty[(String, Long)])
      val d = StreamDecl(name, cols, topic, buffer, mutable.ArrayBuffer.empty)
      streamDecls(name.toLowerCase) = d
      attachStream(d) // initial view: CSAS validation + metadata queries
      None

    case CreateCollection("TABLE", name, cols, props) =>
      val td = Decl("TABLE", name, cols, topicOf(name, props))
      registerTableView(td) // throws if no connector (live or snapshot) feeds it
      tableDecls(name.toLowerCase) = td
      None

    case c: CreateAsSelect =>
      createDerived(c)
      None

    case ins @ InsertValues(target, _, _) =>
      require(!liveStreamDecls.contains(target.toLowerCase),
        s"$target is connector-fed: rows arrive from the database " +
          "through the polling loop, not INSERT")
      val d = streamDecls.getOrElse(target.toLowerCase,
        throw new NoSuchElementException(s"unknown stream $target"))
      // parse each literal with the BATCH engine's converter (one INSERT
      // grammar across both planes — arrays/maps/structs, SQL '' escapes)
      // and JSON-encode it for the wire; from_json decodes it back with
      // the declared schema
      val json = insertColumns(d.name, d.cols, ins).map { case (cd, v) =>
        "\"" + cd.name + "\":" + KsqlEngine.jsonEncode(
          KsqlEngine.convertLiteral(v, cd.dataType), cd.dataType)
      }.mkString("{", ",", "}")
      // offsets are PER TOPIC (lowercased): same-topic streams read one
      // log, so they must see one offset sequence — a per-stream (or
      // mixed-case) counter would mint duplicate offsets into one log
      val off = offsets(d.topic.toLowerCase)
      offsets(d.topic.toLowerCase) = off + 1
      d.buffer += ((json, off)) // the buffer instance is shared per topic
      val sameTopic = streamDecls.values.filter(_.topic == d.topic).toSeq
      sameTopic.foreach(pruneDead)
      sameTopic.foreach(_.attached.foreach(_.input.addData((json, off))))
      None

    case push @ PushQuery(select, emitFinal) =>
      // isolate this query: fresh source streams (buffer replayed) so
      // concurrent queries never share a MemoryStream's commit state.
      // Drop dead AND stale-unowned attachments first — only streams
      // backing still-active plans (plus the fresh ones) may remain, or
      // attachment count grows per query issued.
      // SESSION windows are the one shape Spark restricts to APPEND mode
      // (+ watermark): sessions have no static bounds, so the changelog
      // form ksqlDB emits per update is undefined until the watermark
      // closes the session — closed sessions ARE the append rows.
      // EMIT FINAL asks for exactly that contract on ANY window shape —
      // each window once, when the watermark closes it — so it routes
      // through the same append+watermark path. The window may live in a
      // DERIVED view the query reads (CTAS over a session window, then
      // SELECT * FROM it), which pushWindowKind resolves through
      val appendFinals = pushWindowKind(push).contains("SESSION") || emitFinal
      streamDecls.values.foreach { d =>
        d.attached.filterInPlace(a => a.owner.exists(_.isActive))
        attachStream(d, watermarked = appendFinals)
      }
      liveStreamDecls.values
        .foreach(registerLiveView(_, watermarked = appendFinals))
      // live-topic dimensions re-resolve so rows polled since the last
      // query join in (stream-static semantics, fresh static side)
      tableDecls.values.filter(t => liveTopics.contains(t.topic))
        .foreach(registerTableView)
      refreshDerived()
      val df = spark.sql(translateSelect(select))
      // output mode from the RESOLVED plan, not the select text: a push
      // query over a derived CSAS/CTAS aggregate contains no GROUP BY of
      // its own but still IS a streaming aggregation (Update mode), and
      // a static dimension's latest-by-key Aggregate must NOT count
      // (its child is not streaming)
      val aggregated = df.isStreaming &&
        df.queryExecution.analyzed.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if a.child.isStreaming => a
        }.isDefined
      queryId += 1
      val name = s"ksql_push_$queryId"
      val out = upperCased(df)
      val changelog = new Changelog(out.schema)
      // collect before append takes the monitor: readers never wait on a job
      val q = startPush(out.writeStream
        .foreachBatch((batch: DataFrame, id: Long) => changelog.append(id, batch.collect()))
        .queryName(name)
        .outputMode(
          if (aggregated && !appendFinals) OutputMode.Update()
          else OutputMode.Append()))
      // the fresh attachments (the only unowned ones left) belong to this
      // query's resolved plan now
      streamDecls.values.foreach(_.attached.foreach(a =>
        if (a.owner.isEmpty) a.owner = Some(q)))
      val h = PushHandle(spark, name, q, changelog)
      handles += h
      Some(h)

    case other =>
      throw new IllegalArgumentException(
        s"streaming engine does not support: $other")
  }

  /** Start a push query's `writer` with the push settings: one shuffle
    * partition, so its stateful operators keep one state store each
    * instead of one per session shuffle partition; and the
    * [[NioCheckpointFileManager]], so its transient checkpoint (offset
    * log, commit log, state deltas) is written without a forked process,
    * with the same write-then-atomic-rename. `StreamExecution` clones the
    * session when the query is constructed, inside `start()`, the first
    * batch records the partition count in the query's offset log, and the
    * query's state stores read the clone's configuration; so the
    * session's own values are restored (or unset, if it had none) as soon
    * as `start()` returns, and other statements see the change only while
    * `start()` runs. The lock keeps two engines on one session from
    * interleaving their set and restore.
    */
  private def startPush(writer: DataStreamWriter[Row]): StreamingQuery =
    KsqlStreamingEngine.StartLock.synchronized {
      import KsqlStreamingEngine.PushSettings
      val prior = PushSettings.map { case (k, _) => k -> spark.conf.getOption(k) }
      PushSettings.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.start()
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Execute `stmt` the way the serving planes do: a push query is
    * drained (everything inserted so far processed), its changelog
    * snapshotted as a local DataFrame, and the query RELEASED. The
    * release rides a finally so a drain that throws (runtime error in
    * the micro-batch) cannot leak the handle — a leaked active query
    * would pin its MemoryStream attachments and keep its changelog
    * growing.
    */
  def executeDrained(stmt: KsqlStatement): Option[DataFrame] =
    execute(stmt).map { h =>
      try {
        h.processAllAvailable()
        h.emissions
      } finally release(h)
    }

  /** Stop a push query and unregister its handle, which holds the
    * query's FULL changelog. Serving planes running drain-snapshot-stop
    * must use this, not bare `stop()` — a long-lived server otherwise
    * keeps every changelog ever emitted across all queries it served.
    */
  def release(h: PushHandle): Unit = synchronized {
    // under the engine lock: the server's /query handlers release from
    // their own connection threads while /ksql threads execute (and
    // register handles) under `engine.synchronized` — an unsynchronized
    // ArrayBuffer -= racing a += can lose a handle (re-leaking the
    // changelog this method exists to free). Reentrant, so the /ksql
    // path's release-under-lock is unaffected.
    h.stop()
    handles -= h
  }

  def stopAll(): Unit = {
    synchronized(handles.toSeq).foreach(release)
    pollers.foreach(p => if (p.isActive) p.stop())
    streamDecls.values.foreach(pruneDead)
  }

  /** Block until every live connector has polled all pending ticks —
    * deterministic test synchronization (production loops just run).
    */
  def drainConnectors(): Unit = pollers.foreach(_.processAllAvailable())

  /** Live MemoryStream attachments backing `stream` — operational
    * introspection. Bounded by the number of ACTIVE push queries (+1 for
    * a not-yet-claimed CREATE-time binding); a count growing with the
    * number of queries EVER issued is the leak the pruning exists to
    * prevent (regression-tested in KsqlStreamingSpec).
    */
  def attachmentCount(stream: String): Int =
    streamDecls.get(stream.toLowerCase).map(_.attached.size).getOrElse(0)
}

object KsqlStreamingEngine {
  /** Held while a push query starts with [[PushSettings]]. */
  private val StartLock = new Object

  /** The session settings a push query is started under. */
  private val PushSettings = Seq(
    SQLConf.SHUFFLE_PARTITIONS.key -> "1",
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key ->
      classOf[NioCheckpointFileManager].getName)
}
