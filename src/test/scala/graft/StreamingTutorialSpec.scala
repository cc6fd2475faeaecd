package graft

import graft.engine.{Sinks, TableOps}
import graft.streaming.Tutorial
import graft.streaming.Tutorial.MatchEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import scala.jdk.CollectionConverters._

/** Streaming replay of the tutorial's continuous-query semantics: the
  * count-evolution golden (reference README.md:247-253), update-mode
  * changelog emission (Q1/Q2), and KTable upsert over a streaming
  * changelog (Q3). MemoryStream plays the Kafka topic; the memory sink
  * plays the console/`EMIT CHANGES` client.
  */
class StreamingTutorialSpec extends SparkSpec {

  /** A push query into an in-memory table named `name` the test polls. */
  private def pushQuery(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("push query: home-goals count evolves 2 then 1 per match (README.md:247-253)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[MatchEvent]
    val counts = input.toDF()
      .filter(col("home") && col("event_type") === "GOAL")
      .groupBy("id").agg(count(col("id")).as("goals"))
    val q = pushQuery(counts, "home_goals_evolution", OutputMode.Update())
    try {
      // first four inserts (match 1): README golden shows home_goals = 2
      input.addData(Tutorial.canonicalEvents.take(4): _*)
      q.processAllAvailable()
      val afterM1 = spark.table("home_goals_evolution")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(afterM1.toSet === Set(("1", 2L)))
      // remaining inserts (match 2): update-mode re-emits only changed keys
      input.addData(Tutorial.canonicalEvents.drop(4): _*)
      q.processAllAvailable()
      val all = spark.table("home_goals_evolution")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(all.toSet === Set(("1", 2L), ("2", 1L)))
      // match 1's count was NOT re-emitted in batch 2 (changelog semantics)
      assert(all.length === 2)
    } finally q.stop()
  }

  test("persistent query shape: match_results changelog rows are Kafka-ready (Q2/S5)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[MatchEvent]
    val kv = Sinks.kafkaKeyValue(Tutorial.matchResults(input.toDF()), Seq("id"))
    val q = pushQuery(kv, "match_results_wire", OutputMode.Update())
    try {
      input.addData(Tutorial.canonicalEvents: _*)
      q.processAllAvailable()
      val rows = spark.table("match_results_wire")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows === Map(
        "1" -> """{"HOME_GOALS":2,"AWAY_GOALS":1}""",
        "2" -> """{"HOME_GOALS":1,"AWAY_GOALS":1}"""))
    } finally q.stop()
  }

  test("KTable upsert: streaming latestByKey re-emits the updated row (Q3)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, String, Long)]
    val table = TableOps.latestByKey(
      input.toDF().toDF("id", "team", "_offset"), Seq("id"), "_offset")
    val q = pushQuery(table, "players_table", OutputMode.Update())
    try {
      input.addData(("1", "Barcelona", 0L))
      q.processAllAvailable()
      input.addData(("1", "Paris Saint-Germain", 1L))
      q.processAllAvailable()
      val emissions = spark.table("players_table")
        .collect().map(r => (r.getString(0), r.getString(1)))
      // two emissions for the same key — the changelog — ending in the update
      assert(emissions.toSeq === Seq(("1", "Barcelona"), ("1", "Paris Saint-Germain")))
    } finally q.stop()
  }

  test("streaming player_stats with exact COUNT_DISTINCT aggregator (A3/S6)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, String, String, Boolean, Long)]
    val events = input.toDF().toDF("id", "event_type", "player_id", "home", "_offset")
    // stream-static join + grouped agg; countDistinct is unsupported in
    // streaming, so the exact Aggregator (per-key value-set state) plays
    // LATEST ksqlDB's incremental COUNT_DISTINCT (SURVEY §7.5 pt.2)
    val stats = Tutorial.playerStats(
      Tutorial.matchEventPlayer(events), Tutorial.playersSeed(spark),
      countDistinctMatches =
        graft.functions.ExactCountDistinct.column(col("mep_id")))
    val q = pushQuery(stats, "player_stats_stream", OutputMode.Update())
    try {
      input.addData(Tutorial.canonicalEvents.zipWithIndex.map { case (ev, i) =>
        (ev.id, ev.event_type, ev.player_id, ev.home, i.toLong) }: _*)
      q.processAllAvailable()
      val rows = spark.table("player_stats_stream")
        .orderBy("player_id").collect().toSeq
      assert(rows === Seq(
        org.apache.spark.sql.Row("1", "Lionel Messi", "Argentinian", 3L, 1.5, 1L),
        org.apache.spark.sql.Row("2", "Cristiano Ronaldo", "Portuguese", 2L, 1.0, 1L)))
    } finally q.stop()
  }

  test("streaming sessionization: in-batch gap close and watermark timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    // a realistic epoch base: Spark's initial watermark is 0, and events
    // at exactly epoch 0 would be discarded as late
    val baseSec = 1700000000L
    def ts(minute: Int) = new java.sql.Timestamp((baseSec + minute * 60L) * 1000)
    def us(minute: Int) = (baseSec + minute * 60L) * 1000000L
    val sessions = graft.streaming.Sessionize.stream(
      input.toDF().toDF("user_id", "ts"), gapMinutes = 30,
      watermarkDelay = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at 0 and 10min (one session), then 120min — the
      // in-batch gap closes session 1 immediately
      input.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(120)))
      q.processAllAvailable()
      val closed1 = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(closed1.toSet === Set((1L, us(0), us(10), 2L)))
      // advance the watermark far past 120min + gap: the open session
      // (single event at 120) must close via event-time timeout
      input.addData((2L, ts(600)))
      q.processAllAvailable()
      input.addData((2L, ts(601)))
      q.processAllAvailable()
      val all = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(all.toSet.contains((1L, us(120), us(120), 1L)))
    } finally q.stop()
  }

  test("streaming sessionization: a late-but-admitted event extends the " +
      "session, never regresses its bounds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val baseSec = 1700000000L
    def ts(minute: Int) = new java.sql.Timestamp((baseSec + minute * 60L) * 1000)
    def us(minute: Int) = (baseSec + minute * 60L) * 1000000L
    // 10-minute watermark delay ADMITS cross-batch out-of-order events;
    // the state fold must not move last_us backwards when one arrives
    val sessions = graft.streaming.Sessionize.stream(
      input.toDF().toDF("user_id", "ts"), gapMinutes = 30,
      watermarkDelay = "10 minutes")
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("late_sessions").outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (1L, ts(12)))   // batch 1: last = 12
      q.processAllAvailable()
      input.addData((1L, ts(4)))                 // batch 2: LATE (admitted)
      q.processAllAvailable()
      // 12 + 33 = 45min gap from the TRUE last event: > 30min gap closes
      // the session. A regressed last_us (= 4) would have closed it as
      // (0..4) and dropped the 12-minute event from the emitted bounds.
      input.addData((1L, ts(45)))
      q.processAllAvailable()
      val closed = spark.table("late_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(closed.toSet === Set((1L, us(0), us(12), 3L)))
    } finally q.stop()
  }

  test("moment fold refuses a batch whose embedding dimension differs " +
      "from the state (silent truncation would corrupt the totals)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mdim").toString
    val d4 = Seq((1L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    graft.streaming.StreamMoments.ingestBatch(spark, d4, s"$dir/state")
    val d3 = Seq((2L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamMoments.ingestBatch(spark, d3, s"$dir/state")
    }
    assert(err.getMessage.contains("dimension"))
    // the state survived untouched
    val st = graft.streaming.StreamMoments.readState(spark, s"$dir/state").get
    assert(st._1 === 1L && st._2.length === 4)
  }

  test("streaming parquet sink lands exactly-once files with a commit log") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_psink")
    val (out, ckpt) = (s"$base/data", s"$base/ckpt")
    val input = MemoryStream[MatchEvent]
    val q = Sinks.streamToParquet(
      input.toDF().filter(col("event_type") === "GOAL"), out, ckpt)
    try {
      input.addData(Tutorial.canonicalEvents: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the file-sink commit log makes the output a readable, exact dataset
    val landed = spark.read.parquet(out)
    assert(landed.count() === 5) // the 5 GOAL events
    assert(new java.io.File(s"$out/_spark_metadata").exists())
  }

  test("streaming stream-stream interval join (J3) with watermarks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val baseSec = 1700000000L
    def ts(minute: Int) = new java.sql.Timestamp((baseSec + minute * 60L) * 1000)
    val l = MemoryStream[(Long, java.sql.Timestamp)]
    val r = MemoryStream[(Long, java.sql.Timestamp)]
    val signups = l.toDF().toDF("user_id", "ts1").withWatermark("ts1", "1 hour")
    val purchases = r.toDF().toDF("p_user", "ts2").withWatermark("ts2", "1 hour")
    val joined = signups.join(purchases,
      col("user_id") === col("p_user") &&
        col("ts2") >= col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("ts1"), col("ts2"))
    val q = joined.writeStream.format("memory")
      .queryName("ss_join").outputMode("append").start()
    try {
      l.addData((1L, ts(0)), (2L, ts(0)))
      // user 1 purchases within the hour; user 2 purchases 3h later (out
      // of the join window) — only user 1 may emit
      r.addData((1L, ts(30)), (2L, ts(180)))
      q.processAllAvailable()
      val got = spark.table("ss_join").collect().map(_.getLong(0)).toSet
      assert(got === Set(1L))
    } finally q.stop()
  }

  test("aggregation state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[MatchEvent]
    def counts = input.toDF()
      .filter(col("home") && col("event_type") === "GOAL")
      .groupBy("id").agg(count(col("id")).as("goals"))
    // foreachBatch sink: supports checkpoint recovery (memory sink does not)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    def start() = counts.writeStream
      .outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => emitted.add((r.getString(0), r.getLong(1))))
      }.start()
    val q1 = start()
    try {
      input.addData(Tutorial.canonicalEvents.take(4): _*) // match 1 → 2 goals
      q1.processAllAvailable()
      assert(emitted.asScala.toSet === Set(("1", 2L)))
    } finally q1.stop() // a failed assert must not leak a live query
    // restart from the same checkpoint: the state store must restore the
    // (id=1 → 2) count, so one more home goal emits 3 — not 1
    val q2 = start()
    try {
      input.addData(Tutorial.MatchEvent("1", "GOAL", "1", home = true))
      q2.processAllAvailable()
      assert(emitted.asScala.toSeq.contains(("1", 3L)),
        s"state not restored across restart: ${emitted.asScala.toSeq}")
    } finally q2.stop()
  }

  test("streaming tumbling window: watermark closes windows, late data drops") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val baseSec = 1700000000L / 3600 * 3600  // hour-aligned
    def ts(minute: Int) = new java.sql.Timestamp((baseSec + minute * 60L) * 1000)
    val agged = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("ws"), col("user_id"), col("n"))
    val q = agged.writeStream.format("memory")
      .queryName("tumbling").outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (1L, ts(30)))       // hour-0 window
      q.processAllAvailable()
      input.addData((1L, ts(150)))                   // advances event time
      q.processAllAvailable()
      input.addData((1L, ts(160)))                   // watermark now 140min
      q.processAllAvailable()
      val closed = spark.table("tumbling").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // hour-0 closed with exactly its 2 on-time events
      assert(closed.toSet === Set((baseSec * 1000, 1L, 2L)))
      // an event 100min behind the watermark must be discarded as late
      input.addData((1L, ts(40)))
      q.processAllAvailable()
      input.addData((1L, ts(170)))
      q.processAllAvailable()
      val after = spark.table("tumbling").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(after.toSet === Set((baseSec * 1000, 1L, 2L)))  // unchanged
    } finally q.stop()
  }

  test("streaming dedup: first fingerprint arrival passes, later dups drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val baseSec = 1700000000L
    def ts(minute: Int) = new java.sql.Timestamp((baseSec + minute * 60L) * 1000)
    val deduped = graft.streaming.StreamDedup.exact(
      input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try {
      // same batch: 2 is a whitespace-variant duplicate of 1 → dropped
      input.addData((1L, "Hello   World", ts(0)), (2L, "hello world", ts(1)),
        (3L, "unique doc", ts(2)))
      q.processAllAvailable()
      val b1 = spark.table("dedup_stream").collect().map(_.getLong(0)).toSet
      assert(b1 === Set(1L, 3L))
      // later batch, still inside the watermark horizon → also dropped
      input.addData((4L, "HELLO WORLD", ts(5)), (5L, "fresh content", ts(6)))
      q.processAllAvailable()
      val b2 = spark.table("dedup_stream").collect().map(_.getLong(0)).toSet
      assert(b2 === Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming incremental near-dup: batches check the corpus, never re-pair it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.incrementalNearDup(
      input.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/ckpt",
      threshold = 0.7)
    def corpusIds = spark.read.parquet(s"$dir/corpus")
      .collect().map(_.getLong(0)).toSet
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    try {
      // batch 1: 2 near-dups 1 (same batch → intra-batch election keeps 1);
      // 3 is unrelated
      input.addData((1L, base), (2L, nearDup),
        (3L, (100 to 140).map(i => s"word$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L))
      // batch 2: 10 near-dups corpus doc 1 → dropped against the corpus;
      // 11 is new → appends. Corpus docs 1/3 must NOT re-pair (their rows
      // stay exactly once — an all-pairs rerun would have dropped nothing,
      // but a corpus×corpus leak in the plan would at least re-shuffle them;
      // the band join is batch×corpus only, so the corpus set is stable).
      input.addData((10L, nearDup), (11L, (200 to 240).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L, 11L))
      // batch 3: exact re-send of an accepted doc → dropped as a corpus dup
      input.addData((20L, base))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L, 11L))
    } finally q.stop()
  }

  test("streaming indexed near-dup maintains the banded index across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incidx").toString
    val tbl = "band_stream_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = new org.apache.hadoop.fs.Path(s"/tmp/graft-test-warehouse/$tbl")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.incrementalNearDupIndexed(
      input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh", s"$dir/corpus",
      s"$dir/ckpt", threshold = 0.7, compactEvery = 1)
    // this session only OBSERVES paths the streaming query's session
    // writes; refresh before each read or the shared file-status cache
    // serves pre-append listings (the query's own probes run in the
    // writing session, which self-refreshes on append)
    def corpusIds = {
      spark.catalog.refreshByPath(s"$dir/corpus")
      spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0)).toSet
    }
    def indexIds = {
      spark.catalog.refreshTable(tbl)
      spark.table(tbl).select("_id").distinct()
        .collect().map(_.getLong(0)).toSet
    }
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    try {
      // batch 1 bootstraps the index from its own survivors (2 loses the
      // intra-batch election to 1)
      input.addData((1L, base), (2L, nearDup),
        (3L, (100 to 140).map(i => s"word$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L))
      assert(indexIds === Set(1L, 3L))
      // batch 2 probes the index: 10 collides with indexed doc 1 →
      // dropped; 11 is new → appends to corpus AND index
      input.addData((10L, nearDup), (11L, (200 to 240).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L, 11L))
      assert(indexIds === Set(1L, 3L, 11L))
      // batch 3: a doc near-dupping 11 — accepted in batch 2's APPEND, so
      // only index maintenance (not the bootstrap build) can block it
      input.addData((21L, (200 to 238).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 3L, 11L))
      assert(indexIds === Set(1L, 3L, 11L))
      // compactEvery=1 ran after every batch (and blocking survived it, per
      // the asserts above): the band table must be back to ≤ 1 file/bucket.
      // Count at the CATALOG location — the pointer-swap install leaves
      // live data in a versioned sibling of the name-derived dir
      val files = fs
        .listStatus(graft.engine.Layout.currentTableLocation(spark, tbl))
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(files <= 8, s"compaction did not bound accretion: $files files")
    } finally q.stop()
  }

  test("indexed near-dup state is the index itself: restart keeps blocking") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incidxr").toString
    val tbl = "band_stream_restart"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = new org.apache.hadoop.fs.Path(s"/tmp/graft-test-warehouse/$tbl")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val input = MemoryStream[(Long, String)]
    def start() = graft.streaming.StreamDedup.incrementalNearDupIndexed(
      input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh", s"$dir/corpus",
      s"$dir/ckpt", threshold = 0.7)
    def corpusIds = {
      spark.catalog.refreshByPath(s"$dir/corpus")
      spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0)).toSet
    }
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val q1 = start()
    input.addData((1L, base), (3L, (100 to 140).map(i => s"word$i").mkString(" ")))
    q1.processAllAvailable()
    assert(corpusIds === Set(1L, 3L))
    q1.stop()
    // the dedup state is the EXTERNALIZED index + corpus, not the state
    // store — a fresh query over the same paths must keep blocking
    val q2 = start()
    try {
      input.addData((10L, nearDup), (11L, (200 to 240).map(i => s"new$i").mkString(" ")))
      q2.processAllAvailable()
      assert(corpusIds === Set(1L, 3L, 11L))
    } finally q2.stop()
  }

  test("indexed near-dup ingest probes a pre-built index with ITS spec, not defaults") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incspec").toString
    val tbl = "band_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = new org.apache.hadoop.fs.Path(s"/tmp/graft-test-warehouse/$tbl")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    // index pre-built with NON-default LSH parameters: different seed and
    // band count produce band keys no default-parameter probe could match
    graft.pipeline.Dedup.buildBandedIndex(
      Seq((1L, base)).toDF("doc_id", "text"), tbl, s"$dir/sh",
      k = 32, bands = 8, seed = 7, buckets = 4)
    val read = graft.pipeline.Dedup.readBandSpec(spark, s"$dir/sh")
    assert(read === Some(graft.pipeline.Dedup.BandSpec(32, 8, 3, 7, 4)))
    // the streaming loop is launched with DEFAULT parameters — it must
    // read the sidecar and probe/append with the index's own spec, so the
    // near-dup of the indexed doc is still blocked
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.incrementalNearDupIndexed(
      input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh", s"$dir/corpus",
      s"$dir/ckpt", threshold = 0.7)
    def corpusIds = {
      spark.catalog.refreshByPath(s"$dir/corpus")
      spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0)).toSet
    }
    try {
      input.addData((10L, nearDup),
        (11L, (200 to 240).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(11L))
      // and the appended doc 11 blocks its own near-dups in a later batch
      // (the append used the spec too — mismatched keys would not)
      input.addData((21L, (200 to 238).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(11L))
    } finally q.stop()
  }

  test("containment gate: streaming ingest blocks a doc QUOTING corpus content") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_inccont").toString
    val tbl = "band_stream_cont"
    val ctbl = "post_stream_cont"
    Seq(tbl, ctbl).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(s"/tmp/graft-test-warehouse/$t")
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.delete(wh, true)
    }
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.incrementalNearDupIndexed(
      input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh", s"$dir/corpus",
      s"$dir/ckpt", threshold = 0.7, containTable = Some(ctbl))
    def corpusIds = {
      spark.catalog.refreshByPath(s"$dir/corpus")
      spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0)).toSet
    }
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    // a much longer doc embedding base verbatim: Jaccard(quote, base) ≈
    // 30/130 — far below the near-dup bar — but every shingle of base
    // appears in it, so containment_corpus = 1.0
    val quote = (100 to 200).map(i => s"filler$i").mkString(" ") +
      " " + base + " " + (300 to 320).map(i => s"tail$i").mkString(" ")
    try {
      input.addData((1L, base),
        (2L, (400 to 440).map(i => s"word$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 2L))
      // the quoting doc passes the band gate (low Jaccard) but must be
      // blocked by the containment probe; the unrelated doc appends
      input.addData((10L, quote),
        (11L, (500 to 540).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 2L, 11L))
      // and a doc CONTAINED IN an accepted doc (a 16-token fragment of
      // 11's text: Jaccard 14/39 ≈ 0.36 clears the band gate) blocks via
      // the batch orientation on the MAINTAINED index (11 appended)
      input.addData((20L, (500 to 515).map(i => s"new$i").mkString(" ")))
      q.processAllAvailable()
      assert(corpusIds === Set(1L, 2L, 11L))
    } finally q.stop()
  }

  test("streaming funnel matches the batch funnel on in-order feeds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // u1 completes all 3 in order; u2 clicks BEFORE any view (must not
    // count) then views; u3 views only
    val evs = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(5)), (1L, "purchase", ts(9)),
      (2L, "click", ts(1)), (2L, "view", ts(2)),
      (3L, "view", ts(4)), (3L, "purchase", ts(6))) // purchase w/o click
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.Funnel.stream(
      input.toDF().toDF("user_id", "event_type", "ts"))
      .toDF().writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      // two in-order micro-batches
      input.addData(evs.take(4): _*)
      q.processAllAvailable()
      input.addData(evs.drop(4): _*)
      q.processAllAvailable()
      val live = spark.table("funnel_stream").collect()
        .map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 } // latest state
      val batch = graft.pipeline.EventAnalytics.funnel(
        evs.toDF("user_id", "event_type", "ts"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4))))
        .toMap
      assert(live === batch)
      assert(live(1L)._4 === 3 && live(2L)._4 === 1 && live(3L)._4 === 1)
    } finally q.stop()
  }

  test("batch sessionization matches a hand-built fixture") {
    import spark.implicits._
    def us(minute: Int) = minute * 60L * 1000000L
    val ev = Seq(
      (1L, 10L, us(0)), (1L, 11L, us(5)), (1L, 12L, us(50)),
      (2L, 20L, us(0)))
      .toDF("user_id", "event_id", "ts_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"))
    val got = graft.streaming.Sessionize.batch(ev, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, 1L, 2L, us(0), us(5)),   // events at 0,5 -> one session
      (1L, 2L, 1L, us(50), us(50)), // 45min gap -> new session
      (2L, 1L, 1L, us(0), us(0))))
  }

  test("append-mode push query over a stateless stream (Q1/Q4)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[MatchEvent]
    val proj = input.toDF().filter(col("event_type") === "ASSIST")
      .select("id", "player_id")
    val q = pushQuery(proj, "assists_stream", OutputMode.Append())
    try {
      input.addData(Tutorial.canonicalEvents: _*)
      q.processAllAvailable()
      assert(spark.table("assists_stream").count() === 2)
    } finally q.stop()
  }

  test("stateless pipeline ops run unchanged on a stream (batch parity)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the SAME DataFrame => DataFrame operators, applied to a readStream:
    // redaction + chunking are stateless projections, so streaming output
    // must equal the batch result on the same rows
    val rows = Seq(
      (1L, "contact a@b.io from 10.0.0.1 " + (1 to 200).map("w" + _).mkString(" ")),
      (2L, "clean text " + (1 to 150).map("v" + _).mkString(" ")))
    val batchDf = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val input = MemoryStream[(Long, String)]
    val streamDf = input.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val redacted = graft.pipeline.TextAnalysis.piiRedact(streamDf)
    val chunked = graft.pipeline.TextAnalysis.chunk(streamDf)
    val q1 = redacted.writeStream.format("memory")
      .queryName("pii_stream").outputMode("append").start()
    val q2 = chunked.writeStream.format("memory")
      .queryName("chunk_stream").outputMode("append").start()
    try {
      input.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      def rset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rset(spark.table("pii_stream")) ===
        rset(graft.pipeline.TextAnalysis.piiRedact(batchDf)))
      assert(rset(spark.table("chunk_stream")) ===
        rset(graft.pipeline.TextAnalysis.chunk(batchDf)))
      assert(spark.table("pii_stream").filter(col("n_emails") > 0).count() === 1)
      assert(spark.table("chunk_stream").count() > 2) // long docs chunked
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming heavy hitters: sketch aggregates a stream in complete mode") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val hh = input.toDF().toDF("item")
      .agg(graft.functions.sketch.heavyHitters(col("item"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.err"))
    val q = hh.writeStream.format("memory")
      .queryName("hh_stream").outputMode("complete").start()
    try {
      input.addData(Seq.fill(10)("hot") ++ Seq("a", "b", "c"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(5)("hot") ++ Seq("d"): _*)
      q.processAllAvailable()
      val got = spark.table("hh_stream").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // exact regime across micro-batches: counts accumulate, err stays 0
      assert(got("hot") === ((15L, 0L)))
      assert(got("d") === ((1L, 0L)))
    } finally q.stop()
  }

  test("streaming count-min: grid accumulates across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val cm = input.toDF().toDF("item")
      .agg(graft.functions.countmin.countMinEstimates(
        col("item"), Seq("hot", "d", "absent"), depth = 4, width = 256).as("cm"))
      .select(explode(col("cm")).as("e"))
      .select(col("e.item"), col("e.est"), col("e.n"))
    val q = cm.writeStream.format("memory")
      .queryName("cm_stream").outputMode("complete").start()
    try {
      input.addData(Seq.fill(10)("hot") ++ Seq("a", "b", "c"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(5)("hot") ++ Seq("d"): _*)
      q.processAllAvailable()
      val got = spark.table("cm_stream").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // the grid merges across micro-batches like any commutative partial:
      // estimates only over-count, n is the full stream mass, and with 6
      // distinct items in 256 buckets these are exact
      assert(got("hot") === ((15L, 19L)))
      assert(got("d") === ((1L, 19L)))
      assert(got("absent") === ((0L, 19L)))
    } finally q.stop()
  }

  test("streaming quality gate: batch parity with gateScores, rejects carry reasons") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_qgate").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    graft.pipeline.TextAnalysis.buildLmModel(docs, s"$dir/model")
    val real = docs.filter(col("doc_id") < 30)
    // pick the gate threshold at the median LM score of the clean slice so
    // the low_lm branch is exercised on real data (deterministic: fixed
    // corpus, fixed model)
    val lmOk = graft.streaming.StreamScore
      .gateScores(spark, s"$dir/model", real, Long.MinValue)
      .filter(col("reject_reason").isNull)
      .select("lm_c6").collect().map(_.getLong(0)).sorted
    assert(lmOk.length >= 4, "need clean docs to derive a threshold")
    val thr = lmOk(lmOk.length / 2)
    // crafted probes: enough stopwords + unseen bigrams → oov; tiny → too_short
    // one stopword then a non-repeating chain: every bigram touches an
    // unseen zzz token (→ no model row), stopword ratio clears the bar,
    // no bigram repeats (→ not "repetitive")
    val oovText = "the " + (1 to 24).map(i => s"zzz$i").mkString(" ")
    val crafted = Seq((9001L, oovText), (9002L, "short doc")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamScore.qualityGate(
      input.toDF().toDF("doc_id", "text"), s"$dir/model",
      s"$dir/accept", s"$dir/reject", s"$dir/ckpt", minLmC6 = thr)
    val realRows = real.collect().map(r => (r.getLong(0), r.getString(1)))
    try {
      input.addData(realRows.take(15).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(realRows.drop(15).toIndexedSeq :+
        ((9001L, oovText)) :+ ((9002L, "short doc")): _*)
      q.processAllAvailable()
    } finally q.stop()
    // expected: the batch-form decision over the union of all batches
    val expected = graft.streaming.StreamScore
      .gateScores(spark, s"$dir/model", real.union(crafted), thr)
      .select(col("doc_id"), col("reject_reason")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // observer-session reads of stream-written paths: refresh first
    spark.catalog.refreshByPath(s"$dir/accept")
    spark.catalog.refreshByPath(s"$dir/reject")
    val accepted = spark.read.parquet(s"$dir/accept")
    val rejected = spark.read.parquet(s"$dir/reject")
    val gotAccept = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    val gotReject = rejected.select(col("doc_id"), col("reject_reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotAccept === expected.filter(_._2.isEmpty).keySet)
    assert(gotReject === expected.collect { case (id, Some(r)) => id -> r })
    // the accepted table carries the score (curation audits it downstream)
    assert(accepted.columns.contains("lm_c6"))
    // every gate branch fired on this data
    val reasons = gotReject.values.toSet
    assert(reasons.contains("too_short"), s"reasons: $reasons")
    assert(reasons.contains("oov"), s"reasons: $reasons")
    assert(reasons.contains("low_lm"), s"reasons: $reasons")
  }

  test("streaming curation gate: DSIR off-target rejection, batch parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cgate").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.pipeline.TextAnalysis.buildLmModel(
      docs.select("doc_id", "text"), s"$dir/lm")
    graft.pipeline.TextAnalysis.buildDsirModel(docs, s"$dir/dsir")
    val real = docs.filter(col("doc_id") < 30).select("doc_id", "text")
    // threshold at the median DSIR weight of the otherwise-clean slice so
    // the off_target branch fires on real data (deterministic: fixed
    // corpus, fixed models)
    val clean = graft.streaming.StreamScore.gateScoresDsir(spark,
      s"$dir/lm", s"$dir/dsir", real, Long.MinValue, Long.MinValue)
      .filter(col("reject_reason").isNull)
      .select("dsir_c6").collect().map(_.getLong(0)).sorted
    assert(clean.length >= 4, "need clean docs to derive a threshold")
    val thr = clean(clean.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamScore.curationGate(
      input.toDF().toDF("doc_id", "text"), s"$dir/lm", s"$dir/dsir",
      s"$dir/accept", s"$dir/reject", s"$dir/ckpt",
      minLmC6 = Long.MinValue, minDsirC6 = thr)
    val rows = real.collect().map(r => (r.getLong(0), r.getString(1)))
    try {
      input.addData(rows.take(15).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(15).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val expected = graft.streaming.StreamScore.gateScoresDsir(spark,
      s"$dir/lm", s"$dir/dsir", real, Long.MinValue, thr)
      .select(col("doc_id"), col("reject_reason")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    spark.catalog.refreshByPath(s"$dir/accept")
    spark.catalog.refreshByPath(s"$dir/reject")
    val accepted = spark.read.parquet(s"$dir/accept")
    val gotAccept = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    val gotReject = spark.read.parquet(s"$dir/reject")
      .select(col("doc_id"), col("reject_reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotAccept === expected.filter(_._2.isEmpty).keySet)
    assert(gotReject === expected.collect { case (id, Some(r)) => id -> r })
    // both the importance branch and acceptance fired, and the accepted
    // table carries the weight (curation audits it downstream)
    assert(gotReject.values.toSet.contains("off_target"))
    assert(gotAccept.nonEmpty)
    assert(accepted.columns.contains("dsir_c6"))
  }

  test("calibrated gate: rank-rule thresholds, streaming parity, hot recalibration") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_calgate").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.pipeline.TextAnalysis.buildLmModel(
      docs.select("doc_id", "text"), s"$dir/lm")
    graft.pipeline.TextAnalysis.buildDsirModel(docs, s"$dir/dsir")
    val slice = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select("doc_id", "text")
    val th = graft.streaming.StreamScore.calibrateGate(spark,
      s"$dir/lm", s"$dir/dsir", slice).head()
    // the rank rule vs an INDEPENDENT replay (sort + index, no windows):
    // threshold must be the ceil(q·n)-th smallest non-null score
    val scored = graft.streaming.StreamScore.gateScoresDsir(spark,
      s"$dir/lm", s"$dir/dsir", slice, Long.MinValue, Long.MinValue)
      .persist()
    def replay(c: String, q: Double): (Long, Long) = {
      val v = scored.filter(col(c).isNotNull)
        .select(c).collect().map(_.getLong(0)).sorted
      (v(math.ceil(q * v.length).toInt - 1), v.length.toLong)
    }
    val (lmTh, lmN) = replay("lm_c6", 0.5)
    val (dsTh, dsN) = replay("dsir_c6", 0.5)
    assert(th.getAs[Long]("min_lm_c6") === lmTh)
    assert(th.getAs[Long]("min_dsir_c6") === dsTh)
    assert(th.getAs[Long]("n_lm_scored") === lmN)
    assert(th.getAs[Long]("n_dsir_scored") === dsN)
    // a non-median quantile must move through the same rule
    val th9 = graft.streaming.StreamScore.calibrateGate(spark,
      s"$dir/lm", s"$dir/dsir", slice, quantile = 0.9).head()
    assert(th9.getAs[Long]("min_lm_c6") === replay("lm_c6", 0.9)._1)
    scored.unpersist()

    // streaming parity + HOT RECALIBRATION: the calibrated gate re-reads
    // the threshold artifact per batch, so thresholds rewritten between
    // batches must govern the NEXT batch without a query restart
    graft.streaming.StreamScore.writeGateThresholds(spark,
      s"$dir/lm", s"$dir/dsir", slice, s"$dir/th", quantile = 0.25)
    val thA = graft.streaming.StreamScore.readGateThresholds(spark, s"$dir/th")
    // a half-written version (no completion marker) must be invisible:
    // the reader serves the newest COMPLETE version, never a partial one
    val fsTh = new org.apache.hadoop.fs.Path(s"$dir/th")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsTh.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/th/v0000000000000000099"))
    assert(graft.streaming.StreamScore.readGateThresholds(spark, s"$dir/th")
      .getLong(0) === thA.getLong(0))
    fsTh.delete(
      new org.apache.hadoop.fs.Path(s"$dir/th/v0000000000000000099"), true)
    val real = docs.filter(col("doc_id") < 30).select("doc_id", "text")
    val rows = real.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamScore.curationGateCalibrated(
      input.toDF().toDF("doc_id", "text"), s"$dir/lm", s"$dir/dsir",
      s"$dir/th", s"$dir/accept", s"$dir/reject", s"$dir/ckpt")
    val (batch1, batch2) = rows.splitAt(15)
    val thB = try {
      input.addData(batch1.toIndexedSeq: _*)
      q.processAllAvailable()
      // recalibrate mid-stream: a much stricter quantile so the second
      // batch's routing observably differs from thA's
      graft.streaming.StreamScore.writeGateThresholds(spark,
        s"$dir/lm", s"$dir/dsir", slice, s"$dir/th", quantile = 0.95)
      val t = graft.streaming.StreamScore.readGateThresholds(spark,
        s"$dir/th")
      input.addData(batch2.toIndexedSeq: _*)
      q.processAllAvailable()
      t
    } finally q.stop()
    assert(thB.getLong(0) > thA.getLong(0),
      "the 0.95 quantile must sit strictly above the 0.25 one on this corpus")
    def decide(batch: Array[(Long, String)], t: org.apache.spark.sql.Row) =
      graft.streaming.StreamScore.gateScoresDsir(spark,
        s"$dir/lm", s"$dir/dsir",
        spark.createDataFrame(batch.toIndexedSeq).toDF("doc_id", "text"),
        t.getLong(0), t.getLong(1))
        .select(col("doc_id"), col("reject_reason")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val expected = decide(batch1, thA) ++ decide(batch2, thB)
    spark.catalog.refreshByPath(s"$dir/accept")
    spark.catalog.refreshByPath(s"$dir/reject")
    val gotAccept = spark.read.parquet(s"$dir/accept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotReject = spark.read.parquet(s"$dir/reject")
      .select(col("doc_id"), col("reject_reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotAccept === expected.filter(_._2.isEmpty).keySet)
    assert(gotReject === expected.collect { case (id, Some(r)) => id -> r })
    // the recalibration must have CHANGED at least one doc's routing
    // relative to an all-thA replay, or the hot-swap claim is untested
    val allThA = decide(batch1, thA) ++ decide(batch2, thA)
    assert(expected !== allThA,
      "stricter thresholds must re-route at least one second-batch doc")
  }

  test("streaming moment monitor: state bit-identical to one-shot, drift emitted") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_moments").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamMoments.momentMonitor(
      input.toDF().toDF("vec_id", "embedding"),
      s"$dir/state", s"$dir/drift", s"$dir/ckpt")
    try {
      // deliberately uneven batches: the monoid must not care
      input.addData(rows.take(100).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(rows.slice(100, 150).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(150).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(s"$dir/state")
    val (n, s, g) = graft.streaming.StreamMoments
      .readState(spark, s"$dir/state").get
    val one = emb.agg(graft.functions.GramSumAgg.column(col("embedding")).as("_g"))
      .select("_g.n", "_g.s", "_g.g").head()
    assert(n === one.getLong(0))
    assert(s.toSeq === one.getSeq[Long](1))
    assert(g.toSeq === one.getSeq[Long](2))
    // the unpacked covariance equals the one-shot operator's rows exactly
    def covMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(covMap(graft.streaming.StreamMoments
        .covarianceFromState(spark, s"$dir/state"))
      === covMap(graft.pipeline.Similarity.covarianceMatrix(emb)))
    // drift: one row per non-empty batch; the bootstrap batch has no
    // prior to drift from
    spark.catalog.refreshByPath(s"$dir/drift")
    val drift = spark.read.parquet(s"$dir/drift")
      .orderBy("batch_id").collect()
    assert(drift.length === 3)
    assert(drift.head.isNullAt(3))
    assert(drift.tail.forall(r => !r.isNullAt(3) && r.getDouble(3) >= 0.0))
    assert(drift.map(_.getLong(2)).last === n)
  }

  test("batch ledger: a replayed batchId is skipped, a new checkpoint starts clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    var runs = 0
    // first landing runs the work
    assert(graft.engine.BatchLedger.runOnce(spark, s"$dir/l", 0L) { runs += 1 })
    // the crash-replay of the SAME batchId is a no-op
    assert(!graft.engine.BatchLedger.runOnce(spark, s"$dir/l", 0L) { runs += 1 })
    assert(runs === 1)
    // later batches land normally
    assert(graft.engine.BatchLedger.runOnce(spark, s"$dir/l", 1L) { runs += 1 })
    assert(runs === 2)
    // a DIFFERENT ledger (new checkpoint ⇒ batchIds restart at 0) is clean
    assert(graft.engine.BatchLedger.runOnce(spark, s"$dir/l2", 0L) { runs += 1 })
    assert(runs === 3)
    // work that throws does NOT mark the batch as landed — the replay runs
    intercept[RuntimeException] {
      graft.engine.BatchLedger.runOnce(spark, s"$dir/l", 2L) {
        throw new RuntimeException("mid-batch crash")
      }
    }
    assert(graft.engine.BatchLedger.runOnce(spark, s"$dir/l", 2L) { runs += 1 })
    assert(runs === 4)
  }

  test("staged landing: crash between side effects and marker leaves nothing visible") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stage1").toString
    val dest = s"$dir/data"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the adversarial point the round-9 verdict named: ALL side effects
    // done, marker not yet written — under staging the side effects are
    // invisible, so the replay cannot double-append
    intercept[RuntimeException] {
      graft.engine.BatchLedger.stagedLanding(spark, s"$dir/l", 0L) { st =>
        Seq(1L, 2L).toDF("v").write.parquet(st.appendInto(dest))
        throw new RuntimeException("crash after side effect, before marker")
      }
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dest)),
      "abandoned staging leaked into the destination")
    // the replay lands the batch exactly once
    assert(graft.engine.BatchLedger.stagedLanding(spark, s"$dir/l", 0L) { st =>
      Seq(1L, 2L).toDF("v").write.parquet(st.appendInto(dest))
    })
    assert(spark.read.parquet(dest).count() === 2)
    // a second replay of the committed batch is a no-op
    assert(!graft.engine.BatchLedger.stagedLanding(spark, s"$dir/l", 0L) { _ =>
      fail("replayed committed batch must not re-run")
    })
    assert(spark.read.parquet(dest).count() === 2)
  }

  test("staged landing: crash after the marker completes the install on replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stage2").toString
    val dest = s"$dir/data"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-build the post-commit, pre-install crash state: staged files +
    // manifest + marker, with nothing at the destination yet
    val root = new org.apache.hadoop.fs.Path(s"$dir/l/staging-000000000000")
    val staged = new org.apache.hadoop.fs.Path(root, "a0")
    Seq(7L, 8L, 9L).toDF("v").write.parquet(staged.toString)
    val mf = fs.create(new org.apache.hadoop.fs.Path(root, "_MANIFEST"), true)
    mf.write(s"A\t$staged\t$dest".getBytes("UTF-8")); mf.close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/l"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/l/batch-000000000000"),
      false).close()
    // the replay must complete the pending install WITHOUT re-running the
    // body, then clean the staging away
    assert(!graft.engine.BatchLedger.stagedLanding(spark, s"$dir/l", 0L) { _ =>
      fail("committed batch must not re-run during install recovery")
    })
    assert(spark.read.parquet(dest).count() === 3)
    assert(!fs.exists(root), "staging not cleaned after recovered install")
    // and the recovery itself is idempotent
    assert(!graft.engine.BatchLedger.stagedLanding(spark, s"$dir/l", 0L) { _ =>
      fail("committed batch must not re-run")
    })
    assert(spark.read.parquet(dest).count() === 3)
  }

  test("dedup ingest: injected crash before the marker cannot double-append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crashdedup").toString
    val ledger = s"$dir/ckpt/graft_ledger"
    val corpus = s"$dir/corpus"
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val b0 = Seq((1L, base),
      (3L, (100 to 140).map(i => s"word$i").mkString(" "))).toDF("doc_id", "text")
    // batch 0 lands cleanly through the REAL loop body
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 0L)(
      graft.streaming.StreamDedup.ingestOnce(b0, corpus, "doc_id", "text",
        0.7, dedupWithinBatch = true)))
    assert(spark.read.parquet(corpus).count() === 2)
    // batch 1: the body runs to completion (corpus survivors computed,
    // rows written) and the crash hits just before the marker
    val b1 = Seq((10L, base), // near-dup of corpus doc 1 → must drop
      (11L, (200 to 240).map(i => s"new$i").mkString(" "))).toDF("doc_id", "text")
    intercept[RuntimeException] {
      graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L) { st =>
        graft.streaming.StreamDedup.ingestOnce(b1, corpus, "doc_id", "text",
          0.7, dedupWithinBatch = true)(st)
        throw new RuntimeException("crash after all side effects")
      }
    }
    spark.catalog.refreshByPath(corpus)
    assert(spark.read.parquet(corpus).collect().map(_.getLong(0)).toSet
      === Set(1L, 3L), "crashed batch leaked rows into the corpus")
    // the restart replays batch 1: exactly one copy of doc 11, doc 10
    // still dropped, docs 1/3 not duplicated
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L)(
      graft.streaming.StreamDedup.ingestOnce(b1, corpus, "doc_id", "text",
        0.7, dedupWithinBatch = true)))
    spark.catalog.refreshByPath(corpus)
    val landed = spark.read.parquet(corpus).collect().map(_.getLong(0))
    assert(landed.sorted.toSeq === Seq(1L, 3L, 11L),
      s"double-append or loss after crash-replay: ${landed.toSeq}")
  }

  test("indexed dedup ingest: injected crash lands corpus and index atomically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crashidx").toString
    val ledger = s"$dir/ckpt/graft_ledger"
    val tbl = "band_crash_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val spec = graft.pipeline.Dedup.BandSpec()
    def body(batch: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamDedup.indexedIngestOnce(batch, tbl, s"$dir/sh",
        s"$dir/corpus", "doc_id", "text", 0.7, true, spec, None, 0.9, 5) _
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val b0 = Seq((1L, base),
      (3L, (100 to 140).map(i => s"word$i").mkString(" "))).toDF("doc_id", "text")
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 0L)(body(b0)))
    // batch 1 (steady state: corpus append + band rows + shingles all
    // staged): crash after the whole body
    val b1 = Seq((10L, base),
      (11L, (200 to 240).map(i => s"new$i").mkString(" "))).toDF("doc_id", "text")
    intercept[RuntimeException] {
      graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L) { st =>
        body(b1)(st)
        throw new RuntimeException("crash after all side effects")
      }
    }
    spark.catalog.refreshByPath(s"$dir/corpus")
    spark.catalog.refreshTable(tbl)
    assert(spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L), "crashed batch leaked corpus rows")
    assert(spark.table(tbl).select("_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L), "crashed batch leaked band rows")
    // replay: doc 11 lands EXACTLY once everywhere — corpus row, band
    // rows (exactly `bands` of them, not 2×), shingle set
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L)(body(b1)))
    spark.catalog.refreshByPath(s"$dir/corpus")
    spark.catalog.refreshByPath(s"$dir/sh")
    spark.catalog.refreshTable(tbl)
    assert(spark.read.parquet(s"$dir/corpus").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 3L, 11L))
    val bandRows = spark.table(tbl).filter(col("_id") === 11L).count()
    assert(bandRows === spec.bands,
      s"expected exactly ${spec.bands} band rows for doc 11, got $bandRows")
    assert(spark.read.parquet(s"$dir/sh").filter(col("_id") === 11L).count() === 1)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("manifested dedup ingest: segment landings are exactly-once across " +
      "both crash windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crashman").toString
    val ledger = s"$dir/ckpt/graft_ledger"
    val tbl = "band_crash_man"
    val corpus = s"$dir/corpus"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val spec = graft.pipeline.Dedup.BandSpec()
    def body(batch: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamDedup.indexedIngestOnce(batch, tbl, s"$dir/sh",
        corpus, "doc_id", "text", 0.7, true, spec, None, 0.9, 5,
        manifestedCorpus = true) _
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest() = graft.engine.Layout.resolveManifest(fs,
      new org.apache.hadoop.fs.Path(corpus)).get
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val b0 = Seq((1L, base),
      (3L, (100 to 140).map(i => s"word$i").mkString(" "))).toDF("doc_id", "text")
    // bootstrap lands via appendManifested (direct, loss-proof order)
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 0L)(body(b0)))
    assert(graft.engine.Layout.readManifested(spark, corpus).count() === 2)
    val (v0, _) = manifest()
    // window 1: crash BEFORE the marker — the staged segment is invisible
    // (no manifest advance, corpus content unchanged)
    val b1 = Seq((10L, base), // near-dup of corpus doc 1 → must drop
      (11L, (200 to 240).map(i => s"new$i").mkString(" "))).toDF("doc_id", "text")
    intercept[RuntimeException] {
      graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L) { st =>
        body(b1)(st)
        throw new RuntimeException("crash after all side effects")
      }
    }
    assert(manifest()._1 === v0, "crashed batch advanced the manifest")
    assert(graft.engine.Layout.readManifested(spark, corpus)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // replay lands the segment EXACTLY once: one manifest advance, one
    // new segment naming old+new, doc 10 still dropped
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L)(body(b1)))
    val (v1, segs1) = manifest()
    assert(v1 === v0 + 1 && segs1.size === 2,
      s"append must commit ONE new segment (v$v0 -> v$v1, ${segs1.size} segments)")
    assert(graft.engine.Layout.readManifested(spark, corpus)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 11L))
    // window 2: crash AFTER the marker, BEFORE the install — hand-build
    // the committed-but-uninstalled state with an M op; the replay must
    // complete the manifest commit without re-running the body, and a
    // second replay must not commit a duplicate segment
    val sroot = new org.apache.hadoop.fs.Path(s"$ledger/staging-000000000002")
    val staged = new org.apache.hadoop.fs.Path(sroot, "s0")
    Seq((21L, "fresh twenty one")).toDF("doc_id", "text")
      .write.parquet(staged.toString)
    val mf = fs.create(new org.apache.hadoop.fs.Path(sroot, "_MANIFEST"), true)
    mf.write(s"M\t$staged\t$corpus".getBytes("UTF-8")); mf.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$ledger/batch-000000000002"),
      false).close()
    assert(!graft.engine.BatchLedger.stagedLanding(spark, ledger, 2L) { _ =>
      fail("committed batch must not re-run during install recovery")
    })
    val (v2, segs2) = manifest()
    assert(v2 === v1 + 1 && segs2.size === 3)
    assert(graft.engine.Layout.readManifested(spark, corpus).count() === 4)
    assert(!graft.engine.BatchLedger.stagedLanding(spark, ledger, 2L) { _ =>
      fail("committed batch must not re-run")
    })
    assert(manifest()._1 === v2, "recovery re-committed a segment")
    assert(graft.engine.Layout.readManifested(spark, corpus).count() === 4)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("moment fold: injected crash before the marker cannot double-add") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crashfold").toString
    val ledger = s"$dir/ckpt/graft_ledger"
    val rnd = new scala.util.Random(19)
    val v0 = Seq.tabulate(30)(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
    val v1 = Seq.tabulate(20)(i => (100L + i, Array.fill(8)(rnd.nextFloat())))
    def fold(rows: Seq[(Long, Array[Float])], id: Long) =
      graft.streaming.StreamMoments.foldOnce(
        rows.toDF("vec_id", "embedding"), s"$dir/state", s"$dir/drift",
        id, "embedding") _
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 0L)(fold(v0, 0L)))
    val n0 = graft.streaming.StreamMoments.readState(spark, s"$dir/state").get._1
    assert(n0 === 30L)
    // batch 1 folds fully (next state staged, drift staged), then crashes
    intercept[RuntimeException] {
      graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L) { st =>
        fold(v1, 1L)(st)
        throw new RuntimeException("crash after the fold, before the marker")
      }
    }
    spark.catalog.refreshByPath(s"$dir/state")
    assert(graft.streaming.StreamMoments.readState(spark, s"$dir/state").get._1
      === 30L, "crashed fold leaked into the totals")
    // replay: totals add batch 1 exactly once (50, not 70), one drift row
    // per batch
    assert(graft.engine.BatchLedger.stagedLanding(spark, ledger, 1L)(fold(v1, 1L)))
    spark.catalog.refreshByPath(s"$dir/state")
    spark.catalog.refreshByPath(s"$dir/drift")
    assert(graft.streaming.StreamMoments.readState(spark, s"$dir/state").get._1
      === 50L)
    assert(spark.read.parquet(s"$dir/drift").count() === 2)
  }

  test("moment monitor state survives a replayed batch unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mreplay").toString
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(50)(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamMoments.momentMonitor(
      input.toDF().toDF("vec_id", "embedding"),
      s"$dir/state", s"$dir/drift", s"$dir/ckpt")
    input.addData(vecs)
    q.processAllAvailable(); q.stop()
    val n1 = spark.read.parquet(s"$dir/state").collect().head.getLong(0)
    assert(n1 === 50L)
    // simulate the crash-replay: drive the foreachBatch body again with an
    // ALREADY-LANDED batchId — the ledger must make it a no-op instead of
    // double-adding into the totals
    graft.engine.BatchLedger.runOnce(spark, s"$dir/ckpt/graft_ledger", 0L) {
      fail("replayed batch 0 must not re-run")
    }
    val n2 = spark.read.parquet(s"$dir/state").collect().head.getLong(0)
    assert(n2 === 50L)
  }
}
