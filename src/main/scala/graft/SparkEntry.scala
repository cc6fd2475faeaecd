package graft

import graft.engine.{Catalog, Layout, Ops, Sinks, TableOps}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Tutorial
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §5.2.3): one entry per implemented operator
  * from SURVEY.md §2 plus the LLM-data-pipeline operators, each as a
  * `(SparkSession, sfDir) => DataFrame` over the driver's parquet testdata,
  * with matching DuckDB oracle SQL where the semantics are SQL-expressible
  * (others get the driver's rows-only check).
  *
  * Column names and types are aligned between the Spark result and the
  * oracle SQL — the driver sorts columns by name before hashing values.
  */
object SparkEntry {
  import TestdataAdapter.{events, matchEvents, players, table, oracleCtes}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The tutorial's heaviest construct: stream-table join + grouped agg
    * with LATEST_BY_OFFSET dims (all.sql:129-160) over the testdata twins.
    */
  def entry(spark: SparkSession): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS); ensure this session can scan it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // timezone-less timestamps must read as TIMESTAMP, not NTZ (the
    // engine's unix_micros/watermark call sites reject NTZ)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val dir = "/root/testdata/sf0.001"
    Tutorial.playerStats(
      Tutorial.matchEventPlayer(matchEvents(spark, dir)), players(spark, dir))
  }

  // lazy val, not def: immutable data that Verify/Profile/ExplainAll
  // each touch several times — rebuilding ~140 entries (and
  // re-concatenating the multi-KB oracle strings) per access is waste
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S: sources / DDL / serde -------------------------------------
    // S2/Q3: KTable upsert view = latest row per key by arrival order.
    "s2_table_upsert" -> ((s, d) =>
      TableOps.latestByKey(
        table(s, d, "events").select("user_id", "event_id", "event_type", "value"),
        Seq("user_id"), "event_id")),
    // S3/Q4: stream over a declared schema — append semantics, projection
    // at the deserialization boundary (README.md:90).
    "s3_stream_decl" -> ((s, d) =>
      table(s, d, "events").select("event_id", "event_type", "user_id")),
    // S4: CSAS re-key (PARTITION BY player_id, all.sql:45-51).
    "s4_rekey" -> ((s, d) =>
      Ops.rekey(matchEvents(s, d), "player_id", Seq("id", "event_type", "player_id"))),
    // S7: INSERT INTO … VALUES — append one literal record.
    "s7_insert_values" -> ((s, d) => {
      import s.implicits._
      val one = Seq(("1900-01-01", "GOAL", "999")).toDF("id", "event_type", "player_id")
      matchEvents(s, d).select("id", "event_type", "player_id").unionAll(one)
    }),
    // S9: SHOW catalog over the registered tutorial collections.
    "s9_show_catalog" -> ((s, _) => {
      val cat = new Catalog
      cat.registerTable("players", Tutorial.playersSeed(s), Seq("id"), Some("players"))
      cat.registerStream("match_event", Tutorial.canonicalEventsDF(s), Seq("id"),
        Some("match_event"))
      cat.createStreamAs("match_event_player", Tutorial.matchEventPlayer,
        "match_event", Seq("player_id"), Some("match_event_player"))
      cat.createTableAs("match_results", Tutorial.matchResults,
        "match_event", Seq("id"), Some("match_results"))
      cat.createTableAs("player_stats",
        df => Tutorial.playerStats(Tutorial.matchEventPlayer(df), cat("players").df),
        "match_event", Seq("player_id"), Some("player_stats"))
      cat.show(s)
    }),
    // S10: JSON value serde round-trip (write wire format, parse it back).
    "s10_json_serde" -> ((s, d) => {
      val kv = Sinks.kafkaKeyValue(
        matchEvents(s, d).select("id", "event_type", "player_id"), Seq("id"))
      kv.select(col("key"), col("value"),
        get_json_object(col("value"), "$.EVENT_TYPE").as("event_type"))
    }),
    // K1: composite JSON key encoding (README.md:462-465).
    "k1_composite_key" -> ((s, d) =>
      Sinks.kafkaKeyValue(
        matchEvents(s, d).groupBy("id", "player_id")
          .agg(count(lit(1)).as("n")),
        Seq("id", "player_id"))),
    // KSQL dialect end-to-end: the README tutorial (connector, DDL,
    // INSERTs, join+agg query) executed from KSQL text by KsqlEngine;
    // result is the README.md:413-420 golden table.
    "ksql_tutorial_e2e" -> ((s, _) => {
      val e = new graft.ksql.KsqlEngine(s,
        connectorProvider = (sp, _) => Tutorial.playersSeed(sp))
      e.execute("CREATE SOURCE CONNECTOR c WITH ('table.whitelist' = 'players');")
      e.execute("""CREATE TABLE players (
        ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50),
        nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players');""")
      e.execute("""CREATE STREAM match_event (
        id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, home boolean)
        WITH (KAFKA_TOPIC='match_event');""")
      Tutorial.canonicalEvents.foreach { ev =>
        e.execute(s"INSERT INTO match_event VALUES " +
          s"('${ev.id}', '${ev.event_type}', '${ev.player_id}', ${ev.home});")
      }
      e.execute("""SELECT p.id AS player_id, p.name AS name,
           p.nationality AS nationality,
           SUM(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END) goals,
           CAST(SUM(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END)
               AS DOUBLE) / cast(COUNT_DISTINCT((me.id)) AS DOUBLE) avg_goals,
           SUM(CASE WHEN me.event_type = 'ASSIST' THEN 1 ELSE 0 END) assists
        FROM match_event me JOIN players p ON p.id = me.player_id
        GROUP BY p.id, p.name, p.nationality EMIT CHANGES;""").get
    }),
    // ---- P: projection / filter / scalar ------------------------------
    "p1_select_star" -> ((s, d) => table(s, d, "nation")),
    "p2_projection" -> ((s, d) => table(s, d, "customer").select("c_name", "c_mktsegment")),
    "p3_alias" -> ((s, d) =>
      table(s, d, "customer").select(
        col("c_name").as("customer_name"), col("c_acctbal").as("balance"))),
    "p4_ucase" -> ((s, d) =>
      table(s, d, "customer").select(upper(col("c_name")).as("name_uc"))),
    "p5_case_when" -> ((s, d) =>
      table(s, d, "events").select(
        col("event_id"),
        Ops.caseLabel(col("value"),
          Seq((col("value") > 150) -> "high", (col("value") > 75) -> "mid"), "low")
          .as("band"))),
    "p6_cast_divide" -> ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Ops.ratio(col("l_extendedprice"), col("l_quantity")).as("unit_price"))),
    "p8_filter_eq" -> ((s, d) =>
      matchEvents(s, d).filter(col("event_type") === "GOAL")
        .select("id", "player_id", "home")),
    "p9_filter_and" -> ((s, d) =>
      matchEvents(s, d)
        .filter(col("event_type") === "ASSIST" && col("player_id") === "7")
        .select("id", "player_id")),
    "p10_filter_bool" -> ((s, d) =>
      matchEvents(s, d).filter(col("home") && col("event_type") === "GOAL")
        .select("id", "player_id")),
    "p10_filter_not" -> ((s, d) =>
      matchEvents(s, d).filter(!col("home") && col("event_type") === "GOAL")
        .select("id", "player_id")),
    "p11_filter_not_null" -> ((s, d) =>
      table(s, d, "events").filter(col("props").isNotNull)
        .select("event_id", "props")),
    // ---- J: joins ------------------------------------------------------
    // J1: stream-table inner equi-join (broadcast dim).
    "j1_inner_join" -> ((s, d) => {
      val me = matchEvents(s, d)
        .select(col("id").as("match_id"), col("event_type"), col("player_id"))
      Ops.enrichJoin(me, players(s, d), "player_id", "id")
        .select("match_id", "event_type", "name", "team")
    }),
    // J2: stream-table LEFT join + grouped count (all.sql:60-63).
    "j2_left_join_count" -> ((s, d) =>
      Tutorial.goalsPerPlayerLeft(
        Tutorial.matchEventPlayer(matchEvents(s, d)), players(s, d))),
    // J3a: table-table join (documented matrix row, README.md:352-360).
    "j3_table_table" -> ((s, d) => players(s, d)),
    // J3b: stream-stream join with a time-range condition (windowed join):
    // signup followed by a purchase by the same user within 1 hour.
    "j3_stream_stream" -> ((s, d) => {
      val ev = events(s, d)
      val e1 = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("t1"))
      val e2 = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("t2"))
      e1.join(e2, Seq("user_id"))
        .filter(col("t2") >= col("t1") &&
          col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"))
        .select("signup_id", "purchase_id")
    }),
    // ---- A: aggregations ----------------------------------------------
    // A1: filter + GROUP BY + COUNT (home goals per match, README.md:232-238).
    "a1_count_group" -> ((s, d) =>
      matchEvents(s, d)
        .filter(col("home") && col("event_type") === "GOAL")
        .groupBy("id").agg(count(col("id")).as("n_goals"))),
    // A2/S5: SUM(CASE WHEN) pivot — match_results (README.md:278-304).
    "a2_match_results" -> ((s, d) => Tutorial.matchResults(matchEvents(s, d))),
    // A3: COUNT_DISTINCT (all.sql:115).
    "a3_count_distinct" -> ((s, d) =>
      matchEvents(s, d).groupBy("player_id")
        .agg(countDistinct(col("id")).as("n_matches"))),
    // A3b: the 100TB-default distinct — HLL sketch (fixed-width state,
    // streaming-safe). Deterministic given the data but not DuckDB-
    // replicable → rows-only; the exact twin a3_count_distinct IS
    // oracle-checked.
    "a3_approx_count_distinct" -> ((s, d) =>
      matchEvents(s, d).groupBy("player_id")
        .agg(approx_count_distinct(col("id")).as("n_matches_approx"))),
    // A4: LATEST_BY_OFFSET (all.sql:136-137) — max_by over arrival order.
    "a4_latest_by_offset" -> ((s, d) =>
      matchEvents(s, d).groupBy("player_id")
        .agg(TableOps.latestByOffset(col("event_type"), col("_offset"))
          .as("last_event"))),
    // A5: multi-column GROUP BY (composite key).
    "a5_multi_group" -> ((s, d) =>
      matchEvents(s, d).groupBy("event_type", "home")
        .agg(count(lit(1)).as("n"))),
    // A6: derived metric over aggregates (avg goals per match).
    "a6_derived_ratio" -> ((s, d) => {
      val goals = Ops.sumIf(col("event_type") === "GOAL")
      matchEvents(s, d).groupBy("player_id")
        .agg(Ops.ratio(goals, countDistinct(col("id"))).as("avg_goals"))
    }),
    // S6: the full player_stats CTAS (join + agg + LATEST_BY_OFFSET).
    "s6_player_stats" -> ((s, d) =>
      Tutorial.playerStats(
        Tutorial.matchEventPlayer(matchEvents(s, d)), players(s, d))),
    // E1: gap-based sessionization (batch twin of the
    // flatMapGroupsWithState streaming operator, Sessionize.stream).
    "e1_sessionize" -> ((s, d) =>
      graft.streaming.Sessionize.batch(events(s, d), gapMinutes = 30)),
    // E2: tumbling event-time window aggregation (the streaming form is
    // the same expression under a watermark; window start keys the state).
    "e2_tumbling_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          // exact integer cents: a double sum would be accumulation-order
          // dependent and break the cross-engine hash compare
          sum(round(col("value") * 100).cast("long")).as("value_c2"))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"), col("value_c2"))),
    // E3: hopping (sliding) window — 1h windows every 30min; each event
    // lands in exactly two windows (narrow explode, then one agg shuffle).
    "e3_hopping_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").getField("start")
          .as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_c2"))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"), col("value_c2"))),
    // X1: TPC-H-shaped 5-way star join (lineitem⋈orders⋈customer⋈nation⋈
    // region) with date-range + region filters. Revenue is computed in
    // exact integer 1e-4 units (round(price*100)*round((1-disc)*100)) so
    // the sum is order-independent — a double sum would differ across
    // engines/partitionings in the last bits. Catalyst broadcasts every
    // dim side; only lineitem⋈orders shuffles.
    "x1_star_join" -> ((s, d) => {
      val cents = round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(sum(cents).as("revenue_c4"), count(lit(1)).as("n_items"))
    }),
    // X2: fact ⋈ part ⋈ supplier ⋈ nation with a pushed-down part filter;
    // quantity sums are integer-valued doubles (exact at any order).
    "x2_parts_by_brand" -> ((s, d) =>
      table(s, d, "lineitem")
        .join(table(s, d, "part").filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))),
    // X3: backward as-of join — each purchase picks the user's latest
    // signup at-or-before purchase time (point-in-time enrichment).
    "x3_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      Ops.asofJoin(purchases, signups, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("signup_value"))
    }),
    // A7: exact per-group percentiles (median + p95). Exact `percentile`
    // (sort-based interpolation), not approx_percentile — the approximate
    // sketch is engine-specific; the exact form is the oracle-checkable
    // one and the default below ~10^9 rows per group.
    "a7_percentiles" -> ((s, d) =>
      events(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))),
    // A15: the SCALE path for quantiles — percentile_approx is a mergeable
    // sketch (map-side partials, bounded memory at any cardinality) where
    // a7's exact percentile must hold each group's full value set. The raw
    // estimate is not hash-stable across engines, so the emitted columns
    // are the sketch's own CONTRACT: accuracy=1000 guarantees rank error
    // ≤ n/1000, so the estimate must lie between the exact percentiles at
    // q ± 0.005 (5× slack absorbs interpolation at the window edges). The
    // oracle states the invariant as constants — if the sketch ever left
    // its window, the booleans flip and the row hash-fails. (The exact
    // percentiles exist only to AUDIT the sketch at gate SF; the
    // production form at scale is the percentile_approx columns alone.)
    "a15_approx_percentiles" -> ((s, d) =>
      events(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        expr("percentile_approx(value, 0.5, 1000) BETWEEN " +
          "percentile(value, 0.495) AND percentile(value, 0.505)")
          .as("p50_in_window"),
        expr("percentile_approx(value, 0.95, 1000) BETWEEN " +
          "percentile(value, 0.945) AND percentile(value, 0.955)")
          .as("p95_in_window"))),
    // A16: Count–Min point frequency — the SCALE path for "how often does
    // item x occur" where a1's exact GROUP BY must shuffle the full key
    // set. The grid is 5×8192 longs (320 KiB) at ANY input cardinality;
    // partials merge by element-wise add (a commutative monoid — unlike
    // the MG summary, estimates are bit-identical under any partitioning).
    // Emitted columns are the sketch's CONTRACT in a15's style:
    // est >= exact always (collisions only over-count), and
    // est <= exact + ceil(8n/w) (Markov per row at 8× the n/w mean,
    // independent rows multiply: miss odds ~(1/8)^5 per item —
    // deterministic here for fixed data and seeds). The oracle states the
    // booleans as constants; a sketch bug flips them and hash-fails.
    "a16_count_min" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val sk = li.agg(graft.functions.countmin.countMinEstimates(
        col("l_partkey").cast("string"), (0L to 40L).map(_.toString), 5, 8192)
        .as("_cm"))
        .select(explode(col("_cm")).as("e"))
        .select(col("e.item").cast("long").as("l_partkey"),
          col("e.est").as("_est"), col("e.n").as("_n"))
      li.filter(col("l_partkey") <= 40)
        .groupBy("l_partkey").agg(count(lit(1)).as("n_exact"))
        .join(broadcast(sk), Seq("l_partkey"))
        .select(col("l_partkey"), col("n_exact"),
          (col("_est") >= col("n_exact")).as("cm_ge_exact"),
          (col("_est") <= col("n_exact")
            + ceil(col("_n") * 8.0 / 8192.0).cast("long")).as("cm_within_eps"))
    }),
    // A17: numeric column profiling — the one-pass per-group moment/
    // correlation panel (count, mean, spread, linear association) a
    // feature-engineering pipeline runs before training. All moments are
    // map-side-combinable partials (Welford-style merge inside Spark's
    // CentralMomentAgg/Corr), so the shuffle carries O(groups) rows at any
    // input size. Outputs round to 6dp like a7 — both engines compute the
    // same sample statistics from identical doubles.
    "a17_numeric_profile" -> ((s, d) =>
      table(s, d, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qty_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"))),
    // A8: bounded top-k per group via the native TopKByScore aggregate —
    // each map task's partial reduces to <= k entries per group BEFORE the
    // exchange (a rank-window plan would shuffle the full relation).
    "a8_topk_per_group" -> ((s, d) =>
      events(s, d).groupBy("event_type")
        .agg(graft.functions.agg.topKByScore(col("value"), col("event_id"), 3)
          .as("_top"))
        .select(col("event_type"), posexplode(col("_top")))
        .select(col("event_type"), col("col.id").as("event_id"),
          (col("pos") + 1).cast("int").as("rank"), col("col.score").as("value"))),
    // A9: ROLLUP hierarchy totals — (lang, source), (lang), () in one pass.
    "a9_rollup" -> ((s, d) =>
      table(s, d, "documents").rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))),
    // A10: CUBE — all grouping-set combinations in one pass.
    "a10_cube" -> ((s, d) =>
      table(s, d, "documents").cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))),
    // X4: non-equi band join — value ranges as a broadcast-nested-loop
    // join against a tiny literal dimension (the join form of P5's CASE).
    "x4_band_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 100.0), ("mid", 100.0, 250.0),
        ("high", 250.0, 1000.0)).toDF("band", "lo", "hi")
      events(s, d)
        .join(broadcast(bands),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_c2"))
    }),
    // P12: set difference — whole-unit value levels seen in views but
    // never in purchases (distinct semantics, two hash-partial passes).
    "p12_except" -> ((s, d) => {
      val ev = events(s, d)
      def lv(t: String) = ev.filter(col("event_type") === t)
        .select(round(col("value")).cast("long").as("value_level"))
      lv("view").except(lv("purchase"))
    }),
    // P13: set intersection — value levels common to signups and errors.
    "p13_intersect" -> ((s, d) => {
      val ev = events(s, d)
      def lv(t: String) = ev.filter(col("event_type") === t)
        .select(round(col("value")).cast("long").as("value_level"))
      lv("signup").intersect(lv("error"))
    }),
    // V3: per-label centroid components in exact integer 1e-6 units (a
    // double mean would be accumulation-order dependent; the scaled-sum
    // form is the hash-checkable fingerprint of VectorSumAgg's centroid).
    // floor, not round: Spark rounds the DECIMAL rendering half-up while
    // DuckDB rounds the DOUBLE, which disagree within an ulp of .5 —
    // floor is pure IEEE on both.
    "v3_label_centroid" -> ((s, d) =>
      table(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(floor(col("col") * 1e6).cast("long")).as("sum_c6"),
          count(lit(1)).as("n_vecs"))),
    // V5: symmetric int8 embedding quantization — the 4x footprint lever
    // for 100 TB vector corpora; exploded scalar output for comparability.
    "v5_int8_quantize" -> ((s, d) =>
      Similarity.int8Quantize(table(s, d, "embeddings"))),
    // V9: JL random projection with an md5-derived Rademacher matrix —
    // dim 64 → 16 over 1e-6-quantized components in exact Long arithmetic;
    // the oracle re-derives the SAME matrix from md5, so matrix AND output
    // hash-check cross-engine.
    "v9_random_projection" -> ((s, d) =>
      Similarity.randomProjection(table(s, d, "embeddings"))),
    // V6: retrieval over the quantized corpus — scales cancel in cosine,
    // so the quantized ranking is bit-deterministic and hash-checkable.
    "v6_int8_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.int8CosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    // V11: distributed covariance — one GramSumAgg pass (fixed O(dim²)
    // partials, exact 1e-3-quantized Long arithmetic), unpacked to
    // (i, j, n, cov) rows fully in-plan. The corpus-sized half of PCA;
    // the oracle replays the same integers via a component self-join.
    "v11_covariance" -> ((s, d) =>
      Similarity.covarianceMatrix(table(s, d, "embeddings"))),
    // V11b: the driver-side half of PCA as an oracle-checkable CONTRACT
    // (a15/a16 pattern): eigendecomposition of the v11 matrix must
    // satisfy residual/orthonormality/ordering/trace identities; emitted
    // as one boolean row per component vs a constant-truth oracle. The
    // projection itself is pure dot products (v1/v9-proven kernels),
    // pinned by PipelineSpec variance/reconstruction tests.
    "v11b_pca_contract" -> ((s, d) =>
      Similarity.pcaContract(table(s, d, "embeddings"))),
    // V12: prototypicality — cosine of each vector to its label centroid
    // (SSL-pruning signal: both tails are pruning targets). Centroids
    // from exact integer sums; corpus never shuffles.
    "v12_centroid_affinity" -> ((s, d) =>
      Similarity.centroidAffinity(table(s, d, "embeddings"))),
    // V13: PCA-shortlisted retrieval — candidates scored in the corpus's
    // top-8 principal subspace (dim/kPca cheaper per pair than brute),
    // exact full-dim re-rank of the shortlist, so emitted scores are
    // always true cosines; approximation affects candidate choice only.
    // Rows-only by construction; v13b is the exact twin.
    "v13_pca_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.pcaCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    // V13b: at kPca = dim the projection is an orthonormal rotation
    // (cosine-preserving), so shortlist+re-rank must reproduce v1's
    // brute answer — hash-checking the whole PCA retrieval machinery
    // (covariance pass, eigendecomposition, projection fold, two-pass
    // re-rank) against the brute oracle.
    "v13b_pca_full_rank" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.pcaCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        kPca = 64)
    }),
    // V14: unsupervised embedding outlier score — energy outside the
    // top-8 principal subspace (v12 needs labels; this doesn't).
    // Rows-only by construction; v14b is the contract twin.
    "v14_pca_outlier" -> ((s, d) =>
      Similarity.pcaOutlierScore(table(s, d, "embeddings"))),
    // V14b: with ALL dim components, Parseval forces recon_err ≡ 0 for
    // every row — a constant-truth oracle that checks the component
    // basis is genuinely orthonormal and spanning.
    "v14b_pca_outlier_contract" -> ((s, d) =>
      Similarity.pcaOutlierContract(table(s, d, "embeddings"))),
    // V19: retrieval-quality metrics as an operator — per-query
    // recall@5 / MRR / hit count of the int8-quantized retriever (v6)
    // against exact brute force (v1). Continuous index-quality
    // monitoring belongs in-plan at 100 TB (re-measure after every
    // append/retrain); both ranking inputs are |queries|·k rows, the
    // metrics join broadcasts, and every stage is deterministic, so the
    // whole chain — both retrievers AND the metric arithmetic —
    // hash-checks against a single SQL replay.
    "v19_retrieval_metrics" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      Similarity.retrievalMetrics(
        Similarity.bruteCosineTopK(emb, qs, k = 5),
        Similarity.int8CosineTopK(emb, qs, k = 5), k = 5)
    }),
    // V20: prototypicality-stratified pruning (SSL-prune) — per label,
    // the 10 LEAST prototypical vectors by centroid cosine (the
    // keep-hard-examples curation regime). Bounded-heap selection: no
    // per-label sort, no corpus window — each map task forwards ≤ 10
    // entries per label.
    "v20_prototype_select" -> ((s, d) =>
      Similarity.prototypeSelect(table(s, d, "embeddings"), nKeep = 10)),
    // V15: covariance from INCREMENTALLY maintained moment state — the
    // embeddings ingested in three batches through the StreamMoments
    // monoid fold; exact Long arithmetic makes the result bit-identical
    // to the one-shot v11 pass, so it rides v11's oracle. This is how
    // PCA/whitening stays current under continuous ingest: no retrain
    // pass over the corpus, ever.
    "v15_incremental_covariance" -> ((s, d) =>
      graft.streaming.StreamMoments.covarianceFromState(s, momentsIngest(s, d))),
    // ---- D: deduplication ----------------------------------------------
    "d1_dedup_exact" -> ((s, d) => Dedup.exact(table(s, d, "documents"))),
    // D6: benchmark decontamination (train/test leakage guard) — src0
    // plays the held-out benchmark.
    "d6_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0")).select("doc_id")
    }),
    // D10: bloom-prefiltered decontamination — must be bit-identical to
    // the plain anti-join (bloom has no false negatives; positives get the
    // exact check), so the oracle is d6's.
    "d10_bloom_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.bloomDecontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0")).select("doc_id")
    }),
    "d2_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(table(s, d, "documents"))),
    // D20: EXACT corpus-wide Jaccard pairs via rare-first prefix filtering
    // (AllPairs) — no blocking key, no LSH recall loss; the exact join d3
    // approximates. Oracle is the unblocked quadratic Jaccard.
    "d20_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixJaccardPairs(table(s, d, "documents"))),
    // D21: AllPairs in its PRODUCTION role — exact prefix-filtered Jaccard
    // within (lang, source) buckets. Same contract as d2, but the
    // within-block quadratic is replaced by the global-df prefix join, so
    // the stage stays input-regime on a dup-heavy corpus (d20 is the
    // unblocked, output-bounded form).
    "d21_scoped_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixJaccardPairsScoped(table(s, d, "documents"))),
    // D21s: the sweep twin. ScaleBench replication turns every doc into an
    // N-way exact duplicate, so (lang, source)-scoped AllPairs would go
    // output-regime (N² pair blowup) — the d2-family exclusion. Scoping
    // additionally by the replica id (doc_id div the replicator's key
    // stride) makes each replica its own bucket: bucket COUNT scales with
    // the corpus, bucket size stays constant, output is exactly N× the
    // base answer — the linear input-regime form (same device as
    // d12_incremental_scale's pinned batch). At the gate SF there is one
    // replica, so this is d21/d2's exact answer and shares their oracle.
    "d21_scoped_scale" -> ((s, d) =>
      Dedup.prefixJaccardPairsScoped(
        table(s, d, "documents").withColumn("_rep",
          floor(col("doc_id") / lit(ScaleBench.Stride)).cast("long")),
        scopeCols = Seq("_rep", "lang", "source"))),
    "d3_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(table(s, d, "documents"))),
    "d4_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(table(s, d, "documents"))),
    "d5_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(table(s, d, "embeddings"))),
    // D11: SemDeDup — k-means cells bound the pairwise cosine check; the
    // kept corpus after dropping non-representative members. Cell
    // boundaries make recall < 1 (the documented SemDeDup trade), so this
    // entry is rows-only; d11b is the exact twin the oracle hashes.
    "d11_semantic_dedup" -> ((s, d) =>
      Dedup.semanticSurvivors(table(s, d, "embeddings"))),
    // D11b: singleCell forces the all-pairs answer over a bounded slice —
    // pair generation, components, and survivor election all hash-check
    // against the recursive SQL oracle (quadratic at gate SF by design,
    // like d2/d8's documented twins).
    "d11b_semantic_exact" -> ((s, d) =>
      Dedup.semanticSurvivors(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        singleCell = true)),
    // D8: cluster resolution — connected components over the d3 near-dup
    // pair graph (large-star/small-star label propagation), min-id survivor
    // election, cluster sizes. The missing stage between "pair list" and
    // "deduplicated corpus".
    "d8_dedup_clusters" -> ((s, d) =>
      Dedup.resolveClusters(Dedup.minhashPairs(table(s, d, "documents")))),
    // D9: the corpus after near-dup removal — every clustered doc drops
    // except its component's min-id representative.
    "d9_dedup_survivors" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.nearDupSurvivors(docs, Dedup.minhashPairs(docs)).select("doc_id")
    }),
    // D12: incremental dedup — the continuous-ingest shape: near-dup pairs
    // between a NEW batch (doc_id % 20 = 0) and the existing corpus; the
    // band join is batch×corpus only, so re-deduplicating a small ingest
    // never re-pairs the corpus against itself.
    "d12_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),
    // D13: the batch docs ACCEPTED by incremental dedup — anti-join on the
    // d12 pair list; these are the rows that append to the corpus.
    "d13_incremental_survivors" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalSurvivors(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),
    // D17: asymmetric containment pairs — the quote/subset-duplication
    // signal symmetric Jaccard misses; rare-shingle inverted-index
    // candidates (df ≤ 5), exact containment verification.
    "d17_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(table(s, d, "documents"), threshold = 0.9)),
    // D18: d17's candidate rule in its INGEST form — the batch probes a
    // MATERIALIZED posting index (bucketed by shingle, built beside the
    // d15 band table from the same shingle store), corpus-rare shingles
    // generate candidates, both containment orientations verify exactly.
    // The continuous pipeline's defense against quoted/embedded dups.
    "d18_containment_indexed" -> ((s, d) => {
      val (post, shPath) = containIngest(s, d)
      Dedup.containmentPairsIndexed(s, post, shPath,
        table(s, d, "documents").filter(col("doc_id") % 20 === 0))
    }),
    // D19: pairwise source-overlap matrix — exact Jaccard + directional
    // containment between per-source distinct-shingle vocabularies; the
    // mixture-level dedup analytic (which sources duplicate each other)
    // computed from ONE corpus scan + a vocabulary self-join.
    "d19_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(table(s, d, "documents"))),
    // D16: d13's accept gate driven by the MATERIALIZED banded index —
    // the per-ingest decision a continuous pipeline actually executes
    // (d15 checks the pairs; this checks the composed accept/reject).
    "d16_survivors_indexed" -> ((s, d) => {
      val (tbl, shPath) = bandedIngest(s, d)
      Dedup.incrementalSurvivorsIndexed(s, tbl, shPath,
        table(s, d, "documents").filter(col("doc_id") % 20 === 0))
    }),
    // D12s: the d12 shape at sweep scale — the batch restricted to the
    // ORIGINAL key range (ScaleBench replicas offset doc_id by r×10M), so
    // the key-remapped corpus replicas scale the corpus side of the band
    // join linearly while the batch stays the held-out originals. On
    // unscaled dirs every doc_id < 10M, so this is exactly d12.
    "d12_incremental_scale" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 10000000L))
    }),
    // D15s: d15's probe against d12s's replica-0 batch — at scale the
    // corpus side replicates (the index builds once per session over it)
    // while the batch stays fixed, isolating the recurring per-ingest
    // cost the materialized index exists to minimize.
    "d15_incremental_scale" -> ((s, d) => {
      val (tbl, shPath) = bandedIngest(s, d)
      Dedup.incrementalMinhashPairsIndexed(s, tbl, shPath,
        table(s, d, "documents")
          .filter(col("doc_id") % 20 === 0 && col("doc_id") < 10000000L))
    }),
    // D15: the PRODUCTION incremental-dedup shape — the corpus's banded
    // signatures live in a bucketed table built once (its candidate-join
    // shuffle paid at build time; the bucketed scan joins with no corpus
    // exchange), shingle sets in parquet beside it; each ingest bands and
    // shuffles only itself. Must equal d12 (same seed => same buckets),
    // so the oracle is d12's exhaustive cross-pair SQL.
    "d15_incremental_indexed" -> ((s, d) => {
      val (tbl, shPath) = bandedIngest(s, d)
      Dedup.incrementalMinhashPairsIndexed(s, tbl, shPath,
        table(s, d, "documents").filter(col("doc_id") % 20 === 0))
    }),
    // D14: the COMPLETE ingest gate — d13's batch-vs-corpus check composed
    // with intra-batch near-dup election: a batch doc survives iff it
    // neither near-dups the corpus nor loses its intra-batch cluster's
    // min-id election. Two near-identical docs arriving in the SAME batch
    // → one survives, where d13 (corpus-only by design) appends both.
    "d14_incremental_full" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalSurvivors(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        dedupWithinBatch = true)
    }),
    // S11: Avro container-file round trip — write the customer table as
    // .avro (distributed, one container per partition), read it back via
    // the avro-mapred input format; must equal the parquet original.
    "s11_avro_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_avro")
        .toString + "/customer"
      graft.engine.Avro.write(table(s, d, "customer"), tmp)
      graft.engine.Avro.read(s, tmp)
    }),
    // S12: JSONL round trip — the interchange format corpora ship in.
    // Write the documents table as line-delimited JSON, read it back under
    // the writer's schema; the oracle is the original parquet, so a hash
    // match proves the serde loses nothing (escaping included).
    "s12_jsonl_roundtrip" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
        .toString + "/documents"
      graft.engine.Sinks.toJsonl(docs, tmp)
      graft.engine.Sources.fromJsonl(s, tmp, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),
    // S13: CSV round trip — RFC-4180 quoting for embedded delimiters,
    // shortest-round-trip double printing; same oracle as the Avro twin.
    "s13_csv_roundtrip" -> ((s, d) => {
      val cust = table(s, d, "customer")
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
        .toString + "/customer"
      graft.engine.Sinks.toCsv(cust, tmp)
      graft.engine.Sources.fromCsv(s, tmp, cust.schema)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
    }),
    // S14: ORC round trip — Spark's second native columnar format; the
    // write is the stock distributed ORC sink (hand-rolling a serde here
    // would re-implement what the engine already codegens — the opposite
    // call from s12/s13, where owning the text serde IS the point).
    // Oracle = the parquet original, so a hash match proves losslessness.
    "s14_orc_roundtrip" -> ((s, d) => {
      val cust = table(s, d, "customer")
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
        .toString + "/customer"
      cust.write.mode("overwrite").orc(tmp)
      s.read.schema(cust.schema).orc(tmp)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
    }),
    // ---- T: text analysis ----------------------------------------------
    "t1_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(table(s, d, "documents"))),
    "t2_quality_score" -> ((s, d) => TextAnalysis.qualityScore(table(s, d, "documents"))),
    "t3_lang_id" -> ((s, d) => TextAnalysis.langId(table(s, d, "documents"))),
    "t4_md5_fingerprint" -> ((s, d) =>
      TextAnalysis.md5Fingerprint(table(s, d, "documents"))),
    "t5_rolling_fingerprint" -> ((s, d) =>
      TextAnalysis.rollingFingerprint(table(s, d, "documents"))),
    "t6_dataset_split" -> ((s, d) =>
      TextAnalysis.datasetSplit(table(s, d, "documents"))),
    // T26: leakage-safe split — t6's md5 gate applied to each doc's
    // near-dup cluster representative (d8's components), so near-dup
    // pairs can never straddle train/test. Singletons assign exactly as
    // t6; only clustered docs move. The rep relation is the PERSISTED
    // dedup state (repIngest, built once per source data) — the split
    // plan itself contains no LSH stages and no forced broadcast.
    "t26_leakage_safe_split" -> ((s, d) =>
      TextAnalysis.leakageSafeSplit(table(s, d, "documents"),
        s.read.parquet(repIngest(s, d)), 80, 10)),
    "t7_top_bigrams" -> ((s, d) => TextAnalysis.topBigrams(table(s, d, "documents"))),
    "t8_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(table(s, d, "documents"))),
    // T23: Okapi BM25 term weighting — t8's shape with tf saturation and
    // document-length normalization (the retrieval-grade scorer).
    "t23_bm25" -> ((s, d) => TextAnalysis.bm25TopTerms(table(s, d, "documents"))),
    // T23b: BM25 against PREBUILT corpus stats (df table + (N, avgdl)
    // materialized once per source data) — scoring is a vocab-sized join,
    // no corpus-wide aggregation in the plan; must hash-match t23.
    "t23b_bm25_indexed" -> ((s, d) =>
      TextAnalysis.bm25TopTermsIndexed(s, bm25Ingest(s, d),
        table(s, d, "documents"))),
    // T24: bigram-LM quality score — the CCNet-style perplexity filter:
    // add-1-smoothed bigram model trained on the corpus, each doc scored
    // by its mean bigram log-prob in integer micro-units.
    "t24_lm_score" -> ((s, d) =>
      TextAnalysis.ngramLmScore(table(s, d, "documents"))),
    // T24b: the PRODUCTION scoring shape — the bigram-LM log-prob table
    // materialized once (train-once), each invocation scores the batch
    // with one vocab-keyed equi-join (score-many); must hash-match t24.
    "t24b_lm_score_indexed" -> ((s, d) =>
      TextAnalysis.ngramLmScoreIndexed(s, lmIngest(s, d),
        table(s, d, "documents"))),
    // T25: hashed-linear scorer — fastText-style classifier filtering as
    // a PURE PROJECTION (hash-bucketed features, weights in the
    // expression): zero shuffles, codegen over the scan.
    "t25_hashed_linear" -> ((s, d) =>
      TextAnalysis.hashedLinearScore(table(s, d, "documents"))),
    // T29: DSIR importance weights (Xie et al. '23) — every doc scored by
    // Σ c_b · ln(p_target(b)/p_raw(b)) over md5-hashed unigram+bigram
    // buckets, target = the English slice. Micro-unit log-ratios keep the
    // whole importance pipeline integer-exact → hash-checked end to end.
    "t29_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(table(s, d, "documents"))),
    // T29b: the PRODUCTION weighting shape — the bucket log-ratio model
    // materialized once (train-once), each invocation scores the batch
    // with one broadcast bucket join (score-many); must hash-match t29.
    "t29b_dsir_indexed" -> ((s, d) =>
      TextAnalysis.dsirWeightsIndexed(s, dsirIngest(s, d),
        table(s, d, "documents"))),
    // T30: importance RESAMPLING — the t29 weights through a
    // deterministic md5-uniform rejection sampler (P(keep) = w/w_max,
    // sort-free); the SAMPLE itself is hash-checked, not just weights.
    "t30_dsir_resample" -> ((s, d) =>
      TextAnalysis.dsirResample(table(s, d, "documents"))),
    // T31: the full curation-gate DECISION — quality heuristics, then
    // bigram-LM score against the prebuilt model, then DSIR target
    // affinity against the prebuilt log-ratios; the exact per-batch
    // transform the streaming gates apply, hash-checked end to end
    // (each stage's oracle reused as a subquery).
    "t31_curation_decision" -> ((s, d) =>
      graft.streaming.StreamScore.gateScoresDsir(s, lmIngest(s, d),
        dsirIngest(s, d), table(s, d, "documents").select("doc_id", "text"),
        minLmC6 = CurationMinLmC6, minDsirC6 = CurationMinDsirC6)
        .select(col("doc_id"),
          coalesce(col("reject_reason"), lit("accepted")).as("decision"))),
    // T32: the CALIBRATED gate decision — per-side thresholds re-derived
    // from the CURRENT models over a deterministic calibration slice
    // (doc_id % 4 = 0) by the explicit rank rule (ceil(q·n)-th smallest
    // non-null score), then the t31 decision applied with them. This is
    // the recalibrate-on-retrain operator the r11 bench proved necessary
    // (fixed absolute thresholds reject 100 % under a 21×-grown
    // vocabulary); the emitted thresholds ride as columns so the oracle
    // hash covers the calibration itself, not just the routing.
    "t32_calibrated_gate" -> ((s, d) => {
      val docs = table(s, d, "documents").select("doc_id", "text")
      val th = graft.streaming.StreamScore.calibrateGate(s, lmIngest(s, d),
        dsirIngest(s, d),
        docs.filter(pmod(col("doc_id"), lit(4)) === 0)).head()
      graft.streaming.StreamScore.gateScoresDsir(s, lmIngest(s, d),
        dsirIngest(s, d), docs, th.getAs[Long]("min_lm_c6"),
        th.getAs[Long]("min_dsir_c6"))
        .select(col("doc_id"),
          coalesce(col("reject_reason"), lit("accepted")).as("decision"),
          lit(th.getAs[Long]("min_lm_c6")).as("min_lm_c6"),
          lit(th.getAs[Long]("min_dsir_c6")).as("min_dsir_c6"))
    }),
    "t9_repetition" -> ((s, d) =>
      TextAnalysis.repetitionScore(table(s, d, "documents"))),
    "t10_quality_filter" -> ((s, d) =>
      TextAnalysis.qualityFilter(table(s, d, "documents"))),
    // T15: overlapping token-window chunking (RAG/embedding prep) —
    // 128-token windows advancing by 96.
    "t15_chunk" -> ((s, d) =>
      TextAnalysis.chunk(table(s, d, "documents"))),
    // A11: space-saving heavy-hitters sketch over the bigram stream — the
    // bounded-memory corpus-frequency path (each map task ships at most
    // `capacity` counters). Capacity exceeds the gate-SF bigram vocabulary,
    // so counts are exact with err = 0 and the result is merge-order-
    // independent — which is exactly what the oracle checks (same trick as
    // v2b's full-probe ≡ brute-force). The eviction regime is covered by
    // the PropertySpec guarantee test.
    "a11_heavy_hitters" -> ((s, d) => {
      val bg = table(s, d, "documents")
        .filter(size(TextAnalysis.tokens(col("text"))) >= 2)
        .select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
      bg.agg(graft.functions.sketch.heavyHitters(col("bigram"), 4096).as("_hh"))
        .select(posexplode(col("_hh")))
        .filter(col("pos") < 50)
        .select(col("col.item").as("bigram"),
          (col("pos") + 1).cast("int").as("rank"),
          col("col.cnt").as("cnt"), col("col.err").as("err"))
    }),
    // T19: bigram collocation lift (log-free PMI core, exact millionths).
    "t19_bigram_lift" -> ((s, d) =>
      TextAnalysis.bigramLift(table(s, d, "documents"))),
    // T20: boilerplate n-gram coverage — corpus-frequent 3-grams
    // (doc-frequency ≥ 1% of docs) and how much of each document they
    // cover; the template/chrome detector a crawl pipeline runs.
    "t20_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplateCoverage(table(s, d, "documents"))),
    // T21: passage-level cross-doc duplication (fixed 8-token windows,
    // hashed) — the paragraph-dedup signal at sub-document granularity.
    "t21_passage_dedup" -> ((s, d) =>
      TextAnalysis.passageDedup(table(s, d, "documents"))),
    // T22: domain-mixture rebalancing — every source sampled down to the
    // smallest source's token budget via the deterministic md5 gate with
    // integer-only compare (bucket·src_tokens < 10000·min_tokens).
    "t22_domain_mixture" -> ((s, d) =>
      TextAnalysis.domainMixture(table(s, d, "documents"))),
    // T17: weighted per-source sampling (mix weights) — deterministic md5
    // gate, so the kept set is a pure function of (doc_id, rate).
    "t17_weighted_sample" -> ((s, d) =>
      TextAnalysis.weightedSample(table(s, d, "documents"),
        Map("src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.0),
        defaultRate = 0.75)),
    // T27: mixture resampling with UPSAMPLING (weights > 1 replicate
    // epochs; the fraction is an epoch-salted hash sample) — exact binary
    // fractions chosen so Spark and DuckDB floor identical doubles.
    "t27_mixture_resample" -> ((s, d) =>
      TextAnalysis.mixtureResample(table(s, d, "documents"),
        Map("src1" -> 2.5, "src2" -> 0.25, "src3" -> 3.0, "src4" -> 0.0),
        defaultWeight = 1.0)),
    // T18: per-source corpus report ("data card" summary table).
    "t18_corpus_stats" -> ((s, d) =>
      TextAnalysis.corpusStats(table(s, d, "documents"))),
    // T16: token-rarity (mean corpus token frequency, exact millionths) —
    // the unigram stand-in for a perplexity quality filter.
    "t16_token_rarity" -> ((s, d) =>
      TextAnalysis.tokenRarity(table(s, d, "documents"))),
    // T12: per-source document cap (mix balancing) — row_number <= cap
    // plans as WindowGroupLimit: each map task ships at most cap rows per
    // source into the exchange.
    "t12_source_cap" -> ((s, d) =>
      TextAnalysis.sourceCap(table(s, d, "documents"), cap = 10)),
    // T13: PII scrubbing (email/IPv4/phone → typed placeholders) with
    // per-doc redaction counts.
    "t13_pii_redact" -> ((s, d) =>
      TextAnalysis.piiRedact(table(s, d, "documents"))),
    // T14: sequence packing — concat-and-chunk context-window assignment,
    // per-source running token offsets (parallel across sources).
    "t14_sequence_pack" -> ((s, d) =>
      TextAnalysis.sequencePack(table(s, d, "documents"))),
    // T28: greedy NON-STRADDLING packing (t14's padding-style twin):
    // packs never exceed the budget, docs never split; serial greedy
    // recurrence scoped to (source, md5-shard) for parallelism.
    "t28_greedy_pack" -> ((s, d) =>
      TextAnalysis.greedyPack(table(s, d, "documents"))),
    // T33: deterministic subword (BPE) tokenization against the prebuilt
    // 32-rank merge table (train-once, the lm/dsir pattern) — subword
    // strings, vocab ids, and the subword count every token-denominated
    // operator should really be priced in. The apply path is one narrow
    // codegen'd projection (merges fold in as literals); the oracle
    // replays the TRAINING recurrence itself as 32 unrolled SQL stages.
    // (registered form stringifies the token arrays — the oracle compare
    // hashes scalar cells, so the arrays ride as delimiter joins; the
    // operator API itself returns real array columns)
    "t33_bpe_tokenize" -> ((s, d) =>
      TextAnalysis.bpeTokenizeIndexed(s, bpeIngest(s, d),
        table(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"),
          array_join(col("tokens"), " ").as("tokens"),
          array_join(transform(col("token_ids"),
            x => x.cast("string")), ",").as("token_ids"),
          col("n_tokens_bpe"))),
    // T34: t28's greedy non-straddling pack priced in SUBWORD tokens
    // (budget 2048) — the packing an LLM data pipeline actually ships,
    // where context windows are BPE-denominated. Counting happens inside
    // the pack's own single pass (no tokenizer self-join).
    "t34_bpe_pack" -> ((s, d) => {
      val toks = TextAnalysis.bpeTokensExpr(s, bpeIngest(s, d))
      TextAnalysis.greedyPackCounts(table(s, d, "documents"),
        size(toks(col("text"))), budget = 2048)
    }),
    // T35: the ≥1k-merge BPE demonstration — the SAME native
    // lowest-rank-first apply expression as t33, against a 1024-merge
    // model trained on 2-word chunk units (see Bpe2NumMerges scaladoc:
    // word-level BPE exhausts at ~89 merges on this 31-word corpus).
    // The oracle replays the ENTIRE 1024-round training recurrence as a
    // recursive CTE (constant SQL size, any merge count — the unrolled
    // 32-stage chain t33 uses would be ~1 MB of SQL here) and tokenizes
    // by joining chunks to the final segmentation state. Apply cost on
    // the Spark side is O(symbols²) per unit with the merge table as a
    // reference object — INDEPENDENT of the 1024 ranks.
    "t35_bpe_scaled" -> ((s, d) =>
      TextAnalysis.bpeTokenizeIndexed(s, bpe2Ingest(s, d),
        table(s, d, "documents").select("doc_id", "text"),
        chunkWords = Bpe2ChunkWords)
        .select(col("doc_id"),
          array_join(col("tokens"), " ").as("tokens"),
          array_join(transform(col("token_ids"),
            x => x.cast("string")), ",").as("token_ids"),
          col("n_tokens_bpe"))),
    // T36: the CHAR-WINDOW BPE path (BpeEncodeTextChars — spaces as
    // ordinary symbols, merges crossing word boundaries) under a full
    // hash oracle: t35's recursive-CTE training replay with windows as
    // units — the merge recurrence, vocab-id assignment, and
    // tokenization join are IDENTICAL; only the unit pre-tokenizer
    // changes. This puts the production-vocabulary unit mode (the
    // BPESWEEP 8k/16k-merge demos ride this apply expression) under the
    // same driver-checked contract as the word/chunk paths. Note the
    // joined `tokens` string is for HASHING only — char-mode subwords
    // can contain spaces, so it is not parseable; the operator API
    // returns real arrays.
    "t36_bpe_chars" -> ((s, d) =>
      TextAnalysis.bpeTokenizeIndexed(s, bpe3Ingest(s, d),
        table(s, d, "documents").select("doc_id", "text"),
        unitChars = Bpe3UnitChars)
        .select(col("doc_id"),
          array_join(col("tokens"), " ").as("tokens"),
          array_join(transform(col("token_ids"),
            x => x.cast("string")), ",").as("token_ids"),
          col("n_tokens_bpe"))),
    // T11: the capstone composition — quality gate → exact dedup →
    // decontamination (src0 = benchmark) → deterministic split, one plan.
    "t11_curation_pipeline" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.curate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    // D7: 13-gram overlap with the src0 benchmark (contamination audit).
    "d7_ngram_contamination" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.ngramContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    // ---- V: similarity search ------------------------------------------
    "v1_brute_cosine_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    // V10: maximum-inner-product retrieval — rank by raw dot product
    // (factor-model recommendation semantics; cosine's normalization is
    // wrong there). v1's broadcast/bounded-top-k shape.
    "v10_brute_mips_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteMipsTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    // V10b: the norm-augmented IVF reduction with every cell probed —
    // exhaustive, and the query's 0 component makes scores bit-identical
    // to v10, so this hash-checks the whole augmentation machinery
    // (residual clamp, augmented cells, dot scoring) against v10's oracle.
    "v10b_ivf_mips_full_probe" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfMipsTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        nProbe = Int.MaxValue, kmeansIters = 0)
    }),
    // V16: product-quantized retrieval — the 100 TB ANN memory path
    // (codes are m ints vs dim floats). The WHOLE approximate pipeline
    // — codebook seeding, TWO Lloyd training iterations in micro-unit-
    // exact arithmetic, L2 code assignment, ADC scoring in integer
    // micro-units — is hash-checked: the oracle replays training,
    // quantization, and ranking verbatim in SQL, so this is an exact
    // contract on an approximate algorithm, not a rows-only row.
    "v16_pq_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        m = 8, codebookSize = 256)
    }),
    // V17: IVF-gated PQ with exact re-rank (the FAISS IVFPQ+refine
    // composition) — coarse cells prune the candidate set, codes
    // compress the candidates, and the k·24 ADC shortlist re-scores
    // with exact dots so the ADC ranking loss never reaches the output
    // (the stage RECALL_r10 measured as the 0.92→0.75 gap; RECALL_r11:
    // 0.934 at these defaults). Approximate in the candidate set only →
    // rows-only; v17b is the exactness twin.
    "v17_ivfpq_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      // queryCountHint: vec_ids are dense from 0, so the filter admits
      // exactly 20 — plan construction fires no count() job (r16)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        m = 8, codebookSize = 256, queryCountHint = 20)
    }),
    // V17b: with every cell probed the IVF gate admits every candidate,
    // so the pipeline is the deterministic chain trained-codebook ADC
    // shortlist → exact re-rank — hash-checked against the generated
    // SQL replay of exactly that chain (pqRerankOracle). This pins the
    // composition machinery (one-pass code+cell projection, probe join,
    // dedup'd bounded shortlist, refine join) end to end; only the
    // cell-recall loss of the gated path is unchecked, and RECALL
    // measures that curve.
    "v17b_ivfpq_full_probe" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        nProbe = Int.MaxValue, m = 8, codebookSize = 256, kmeansIters = 0)
    }),
    // V18: the SERVING form — materialized IVFPQ index (codes + raw
    // refine sidecar partitioned by cell, built once per source data +
    // session, centroids/codebooks persisted) probed with every cell:
    // exhaustive over the codes, so it must hash-match v17b's
    // shortlist-then-rerank oracle. The spilled index duplicates a
    // vector's rows across its spill cells; identical scored rows
    // collapse in the dedup'd bounded top-k, so the layout arity cannot
    // leak into results.
    "v18_ivfpq_indexed" -> ((s, d) => {
      val (codes, cents, cb) = ivfpqIngest(s, d)
      Similarity.ivfPqTopKIndexed(s, codes, cents, cb,
        table(s, d, "embeddings").filter(col("vec_id") < 20), k = 5,
        nProbe = Int.MaxValue)
    }),
    "v2_ivf_cosine_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    // V2b: IVF with every cell probed is exhaustive — it must equal the
    // brute-force answer EXACTLY, which oracle-checks the whole IVF
    // machinery (k-means build, cell assignment, probe ranking, bounded
    // top-k) that the approximate v2 path exercises unverified.
    "v2b_ivf_full_probe" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      // kmeansIters = 0: with every cell probed the answer is exhaustive
      // regardless of centroid quality, so the equivalence check skips the
      // Lloyd refinement the approximate v2 path pays for
      Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
        nProbe = Int.MaxValue, kmeansIters = 0)
    }),
    // V7: kNN graph — every vector's top-5 neighbors, candidates bounded
    // to the vector's k-means cell (cell-boundary recall < 1, the IVF
    // trade), so this entry is rows-only; v7b is the exact twin.
    "v7_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(table(s, d, "embeddings"), k = 5)),
    // V7b: singleCell forces the all-pairs graph over a bounded slice —
    // scoring, rounding-then-ranking, and the bounded top-k agg all
    // hash-check against the brute-force SQL oracle.
    "v7b_knn_exact" -> ((s, d) =>
      Similarity.knnGraph(table(s, d, "embeddings").filter(col("vec_id") < 2000),
        k = 5, singleCell = true)),
    // V8: the PRODUCTION ANN path — materialized partitioned IVF index
    // (built once per source data + session, centroids persisted) probed
    // with every cell, which is exhaustive and must hash-match the
    // brute-force oracle. v2 measures build+probe in one plan; this row
    // verifies the probe-over-layout machinery users actually run.
    "v8_ivf_indexed" -> ((s, d) => {
      val (cells, cents) = ivfIngest(s, d)
      Similarity.ivfCosineTopKIndexed(s, cells, cents,
        table(s, d, "embeddings").filter(col("vec_id") < 20), k = 5,
        nProbe = Int.MaxValue)
    }),
    // X5: OVER-clause window function — per-user running total in exact
    // cents, ordered by (ts, event_id). Partitions are per-user (bounded);
    // the explicit ROWS frame keeps Spark and the oracle frame-identical.
    "x5_running_sum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d).select(col("event_id"), col("user_id"),
        sum(round(col("value") * 100).cast("long")).over(w).as("running_c2"))
    }),
    // X8: the OVER-clause analytics family — lag/lead (neighbor rows),
    // ntile (quartile binning), percent_rank / cume_dist (distribution
    // position), all over ONE per-user window pass. The ordering key
    // (ts, event_id) is unique, so every function is deterministic, and
    // the rank-family outputs are single IEEE divisions of exact integers
    // — bit-identical cross-engine.
    "x8_window_analytics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d).select(col("event_id"), col("user_id"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),
    // X9: directory-partitioned layout (Layout.writePartitioned) — ingest
    // once per (source data, session), then scan with a partition predicate
    // that prunes whole source= directories before any I/O; must
    // hash-match the flat-parquet twin the oracle computes.
    "x9_partitioned_scan" -> ((s, d) => {
      val dir = partitionedIngest(s, d, "documents", "source")
      s.read.parquet(dir)
        .filter(col("source").isin("src1", "src2", "src3"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_len"))
    }),
    // X10: small-file compaction over the MANIFESTED snapshot protocol
    // (Layout.writeManifested/compactManifested/readManifested) — a
    // 16-file snapshot is compacted to 2 files (count asserted at
    // ingest) behind one atomic pointer write, and the compacted scan
    // must hash-match the original data: compaction changes layout,
    // never content.
    "x10_compacted_scan" -> ((s, d) => {
      val dir = compactedIngest(s, d, "documents", targetFiles = 2)
      graft.engine.Layout.readManifested(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
    // X11: Z-order-clustered scan (Layout.zorderWrite) — lineitem laid
    // out by the Morton interleave of (l_partkey, l_suppkey), scanned
    // with a 2-d rectangle predicate. Directory partitioning (x9) prunes
    // ONE column hierarchy; z-order makes parquet min/max tight on BOTH
    // keys, so either-column predicates skip most row groups — the
    // multi-column pruning lever at 100 TB. The emitted sum_z also
    // hash-checks the bit-interleave arithmetic itself against a SQL
    // replay; data content must match the flat-parquet twin (layout
    // never changes data — the x9/x10 contract). Locality is asserted
    // separately in PlanShapeSpec (per-file bounding boxes).
    "x11_zorder_scan" -> ((s, d) => {
      val dir = zorderIngest(s, d)
      s.read.parquet(dir)
        .filter(col("l_partkey") <= 64 && col("l_suppkey") <= 8)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(graft.engine.Layout.zvalue(
            col("l_partkey"), col("l_suppkey"))).as("sum_z"))
    }),
    // A12: GROUPING SETS — the explicit-set cousin of ROLLUP/CUBE (a9/a10):
    // (lang), (source), and the grand total in one pass; Catalyst expands
    // to a single Expand + hash aggregate, not three scans.
    "a12_grouping_sets" -> ((s, d) =>
      table(s, d, "documents")
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))),
    // A13: PIVOT — priority × status order totals in exact cents. The
    // pivot value list is explicit, so the plan is one hash aggregate with
    // no distinct-values pre-scan (the implicit form pays an extra job).
    "a13_pivot" -> ((s, d) =>
      table(s, d, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("cents")))),
    // A14: UNPIVOT (melt) — the wide per-status report folded back to
    // (status, metric, value) rows; both value columns are exact longs so
    // the melted column is type-stable.
    "a14_unpivot" -> ((s, d) => {
      val wide = table(s, d, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_c2"))
      wide.unpivot(Array(col("o_orderstatus")),
        Array(col("n_orders"), col("total_c2")), "metric", "value")
    }),
    // E4: ordered conversion funnel (view → click → purchase) — per-user
    // first-completion times where each step must follow the previous
    // one; chained window minima over one user_id exchange.
    "e4_funnel" -> ((s, d) =>
      graft.pipeline.EventAnalytics.funnel(events(s, d))),
    // E5: cohort retention triangle — users by signup week, counted in
    // every week offset with activity; exact integer week math (`div`).
    "e5_cohort_retention" -> ((s, d) =>
      graft.pipeline.EventAnalytics.cohortRetention(events(s, d))),
    // X6: skew-safe salted join — each key's rows spread over 8 (key,salt)
    // reducers. Salting must be RESULT-INVARIANT, so the oracle is the
    // plain equi-join.
    "x6_salted_join" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val p = table(s, d, "part").select("p_partkey", "p_name")
      Ops.saltedJoin(li, p, "l_partkey", "p_partkey", salts = 8)
        .select("l_orderkey", "l_linenumber", "p_name", "l_quantity")
    }),
    // X7: bucketed co-located join — both sides pre-bucketed on the join
    // key (the pay-the-shuffle-once-at-ingest layout), then join + same-key
    // aggregation with zero exchanges; must hash-match the plain-parquet
    // join the oracle computes. The ingest runs once per (session, sf dir)
    // — that IS the layout's contract — so repeat executions (bench
    // warmup→timed) measure the recurring co-located join, not the
    // one-time bucketing.
    "x7_bucketed_join" -> ((s, d) => {
      val ot = bucketedIngest(s, d, "orders",
        Seq("o_orderkey", "o_custkey"), "o_orderkey")
      val lt = bucketedIngest(s, d, "lineitem",
        Seq("l_orderkey", "l_quantity"), "l_orderkey")
      val o = Layout.read(s, ot)
      val l = Layout.read(s, lt)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty_fl"))
    }),
    // V4: kNN label agreement — the eval-loop composition of similarity
    // search: fraction of each query's top-5 neighbors sharing its label.
    "v4_knn_label_agreement" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val top = Similarity.bruteCosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
      val nLab = emb.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
      val qLab = emb.select(col("vec_id").as("query_id"), col("label").as("q_label"))
      top.join(broadcast(nLab), "neighbor_id").join(broadcast(qLab), "query_id")
        .groupBy("query_id", "q_label")
        .agg(sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"))
    }),
    // ---- M: multimodal plumbing ----------------------------------------
    // Real codec round trip: asMediaTable synthesizes actual PNG/WAV bytes
    // whose parameters are analytic functions of doc_id, decode re-parses
    // them, and the oracle recomputes the parameters in SQL — so a
    // hash-match proves the encode→decode loop is lossless. The projection
    // drops content-derived columns (checksum, n_bytes) the oracle cannot
    // reproduce without the codec.
    "m1_media_decode" -> ((s, d) =>
      Multimodal.decode(Multimodal.asMediaTable(table(s, d, "documents"))).toDF()
        .select("doc_id", "media_type", "width", "height", "n_frames", "decode_ok")),
    "m2_media_resize" -> ((s, d) =>
      Multimodal.resize(
        Multimodal.decode(Multimodal.asMediaTable(table(s, d, "documents"))))),
    "m3_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decode(Multimodal.asMediaTable(table(s, d, "documents")))))
  )

  /** DuckDB oracle SQL per query (same column names and types as the Spark
    * result). Seven queries are absent (rows-only), each approximate by
    * construction with a hash-checked exact twin: a3_approx (HLL sketch;
    * exact twin a3), v2 (IVF recall < 1; full-probe v2b shares v1's
    * brute-force oracle), v7 (celled kNN graph; exact twin v7b), v13
    * (PCA-shortlisted top-k; full-rank v13b), v14 (PCA outlier score;
    * contract twin v14b), v17 (IVF-gated PQ; full-probe v17b shares v16's
    * generated replay), d11 (SemDeDup celled pairs; exact twin d11b).
    */
  lazy val oracleSql: Map[String, String] = Map(
    "s2_table_upsert" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "s3_stream_decl" -> "SELECT event_id, event_type, user_id FROM events",
    "s4_rekey" ->
      (oracleCtes + "SELECT id, event_type, player_id FROM match_event"),
    "s7_insert_values" ->
      (oracleCtes + """SELECT id, event_type, player_id FROM match_event
        |UNION ALL SELECT '1900-01-01', 'GOAL', '999'""".stripMargin),
    "s9_show_catalog" ->
      """SELECT * FROM (VALUES
        |  ('match_event', 'STREAM', 'id', 'match_event'),
        |  ('match_event_player', 'STREAM', 'player_id', 'match_event_player'),
        |  ('match_results', 'TABLE', 'id', 'match_results'),
        |  ('player_stats', 'TABLE', 'player_id', 'player_stats'),
        |  ('players', 'TABLE', 'id', 'players')
        |) AS t(name, kind, key_columns, topic)""".stripMargin,
    "s10_json_serde" ->
      (oracleCtes + """SELECT id AS key,
        |  '{"EVENT_TYPE":"' || event_type || '","PLAYER_ID":"' || player_id || '"}' AS value,
        |  event_type
        |FROM match_event""".stripMargin),
    "k1_composite_key" ->
      (oracleCtes + """SELECT
        |  '{"ID":"' || id || '","PLAYER_ID":"' || player_id || '"}' AS key,
        |  '{"N":' || CAST(n AS VARCHAR) || '}' AS value
        |FROM (SELECT id, player_id, CAST(count(*) AS BIGINT) AS n
        |      FROM match_event GROUP BY id, player_id)""".stripMargin),
    "ksql_tutorial_e2e" ->
      """SELECT * FROM (VALUES
        |  ('1', 'Lionel Messi', 'Argentinian', CAST(3 AS BIGINT),
        |   CAST(1.5 AS DOUBLE), CAST(1 AS BIGINT)),
        |  ('2', 'Cristiano Ronaldo', 'Portuguese', CAST(2 AS BIGINT),
        |   CAST(1.0 AS DOUBLE), CAST(1 AS BIGINT))
        |) AS t(PLAYER_ID, NAME, NATIONALITY, GOALS, AVG_GOALS, ASSISTS)""".stripMargin,
    "p1_select_star" -> "SELECT * FROM nation",
    "p2_projection" -> "SELECT c_name, c_mktsegment FROM customer",
    "p3_alias" -> "SELECT c_name AS customer_name, c_acctbal AS balance FROM customer",
    "p4_ucase" -> "SELECT upper(c_name) AS name_uc FROM customer",
    "p5_case_when" ->
      """SELECT event_id,
        |  CASE WHEN value > 150 THEN 'high' WHEN value > 75 THEN 'mid'
        |       ELSE 'low' END AS band
        |FROM events""".stripMargin,
    "p6_cast_divide" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE) AS unit_price
        |FROM lineitem""".stripMargin,
    "p8_filter_eq" ->
      (oracleCtes + "SELECT id, player_id, home FROM match_event WHERE event_type = 'GOAL'"),
    "p9_filter_and" ->
      (oracleCtes +
        "SELECT id, player_id FROM match_event WHERE event_type = 'ASSIST' AND player_id = '7'"),
    "p10_filter_bool" ->
      (oracleCtes + "SELECT id, player_id FROM match_event WHERE home AND event_type = 'GOAL'"),
    "p10_filter_not" ->
      (oracleCtes + "SELECT id, player_id FROM match_event WHERE NOT home AND event_type = 'GOAL'"),
    "p11_filter_not_null" ->
      "SELECT event_id, props FROM events WHERE props IS NOT NULL",
    "j1_inner_join" ->
      (oracleCtes + """SELECT me.id AS match_id, me.event_type, p.name, p.team
        |FROM match_event me JOIN players p ON me.player_id = p.id""".stripMargin),
    "j2_left_join_count" ->
      (oracleCtes + """SELECT p.id AS p_id, p.name, p.nationality,
        |  CAST(count(me.id) AS BIGINT) AS goals
        |FROM match_event me LEFT JOIN players p ON me.player_id = p.id
        |GROUP BY p.id, p.name, p.nationality""".stripMargin),
    "j3_table_table" ->
      (oracleCtes + "SELECT id, name, team, nationality FROM players"),
    "j3_stream_stream" ->
      """SELECT e1.event_id AS signup_id, e2.event_id AS purchase_id
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |WHERE e1.event_type = 'signup' AND e2.event_type = 'purchase'""".stripMargin,
    "a1_count_group" ->
      (oracleCtes + """SELECT id, CAST(count(id) AS BIGINT) AS n_goals
        |FROM match_event WHERE home AND event_type = 'GOAL' GROUP BY id""".stripMargin),
    "a2_match_results" ->
      (oracleCtes + """SELECT id,
        |  CAST(sum(CASE WHEN home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS BIGINT) AS home_goals,
        |  CAST(sum(CASE WHEN NOT home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS BIGINT) AS away_goals
        |FROM match_event WHERE home IS NOT NULL GROUP BY id""".stripMargin),
    "a3_count_distinct" ->
      (oracleCtes + """SELECT player_id, CAST(count(DISTINCT id) AS BIGINT) AS n_matches
        |FROM match_event GROUP BY player_id""".stripMargin),
    "a4_latest_by_offset" ->
      (oracleCtes + """SELECT player_id, arg_max(event_type, _offset) AS last_event
        |FROM match_event GROUP BY player_id""".stripMargin),
    "a5_multi_group" ->
      (oracleCtes + """SELECT event_type, home, CAST(count(*) AS BIGINT) AS n
        |FROM match_event GROUP BY event_type, home""".stripMargin),
    "a6_derived_ratio" ->
      (oracleCtes + """SELECT player_id,
        |  CAST(sum(CASE WHEN event_type = 'GOAL' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(DISTINCT id) AS DOUBLE) AS avg_goals
        |FROM match_event GROUP BY player_id""".stripMargin),
    "s6_player_stats" ->
      (oracleCtes + """SELECT p.id AS player_id,
        |  arg_max(p.name, me._offset) AS player_name,
        |  arg_max(p.nationality, me._offset) AS nationality,
        |  CAST(sum(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END) AS BIGINT) AS goals,
        |  CAST(sum(CASE WHEN me.event_type = 'GOAL' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(DISTINCT me.id) AS DOUBLE) AS avg_goals,
        |  CAST(sum(CASE WHEN me.event_type = 'ASSIST' THEN 1 ELSE 0 END) AS BIGINT) AS assists
        |FROM match_event me JOIN players p ON me.player_id = p.id
        |GROUP BY p.id""".stripMargin),
    "e2_tumbling_window" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c2
        |FROM events GROUP BY 1, 2""".stripMargin,
    "e3_hopping_window" ->
      """WITH w AS (
        |  SELECT epoch_us(time_bucket(INTERVAL 30 MINUTE, ts)) AS b_us,
        |         event_type, value FROM events),
        |e AS (
        |  SELECT b_us AS ws, event_type, value FROM w
        |  UNION ALL
        |  SELECT b_us - 1800000000 AS ws, event_type, value FROM w)
        |SELECT ws AS window_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c2
        |FROM e GROUP BY ws, event_type""".stripMargin,
    "e1_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |y AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |z AS (
        |  SELECT user_id, ts_us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us
        |                  RANGE UNBOUNDED PRECEDING) AS session_idx
        |  FROM y)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM z GROUP BY user_id, session_idx""".stripMargin,
    "x1_star_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "x2_parts_by_brand" ->
      """SELECT n_name, p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY n_name, p_brand""".stripMargin,
    "x3_asof_join" ->
      """WITH signups AS (
        |  -- tie rule mirrored from Ops.asofJoin: among versions sharing
        |  -- (user_id, ts), the greatest payload wins
        |  SELECT user_id, ts, max(value) AS signup_value FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, epoch_us(f.ts) AS ts_us, f.value,
        |       d.signup_value
        |FROM purchases f ASOF JOIN signups d
        |  ON f.user_id = d.user_id AND f.ts >= d.ts""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin,
    "a7_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,
    // a15: the oracle states the sketch contract as constants — the Spark
    // side computes whether percentile_approx actually landed inside its
    // guaranteed exact-percentile window; a violation flips a boolean and
    // hash-fails the row.
    "a15_approx_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  true AS p50_in_window, true AS p95_in_window
        |FROM events GROUP BY event_type""".stripMargin,
    "a16_count_min" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_exact,
        |  true AS cm_ge_exact, true AS cm_within_eps
        |FROM lineitem WHERE l_partkey <= 40 GROUP BY l_partkey""".stripMargin,
    "a17_numeric_profile" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a8_topk_per_group" ->
      """SELECT event_type, event_id, CAST(rank AS INTEGER) AS rank, value
        |FROM (SELECT event_type, event_id, value,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY value DESC, event_id) AS rank
        |      FROM events)
        |WHERE rank <= 3""".stripMargin,
    "a9_rollup" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin,
    "x4_band_join" ->
      """WITH bands AS (
        |  SELECT * FROM (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 250.0),
        |    ('high', 250.0, 1000.0)) AS t(band, lo, hi))
        |SELECT band, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c2
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin,
    "p12_except" ->
      """SELECT CAST(round(value) AS BIGINT) AS value_level FROM events
        |WHERE event_type = 'view'
        |EXCEPT
        |SELECT CAST(round(value) AS BIGINT) FROM events
        |WHERE event_type = 'purchase'""".stripMargin,
    "p13_intersect" ->
      """SELECT CAST(round(value) AS BIGINT) AS value_level FROM events
        |WHERE event_type = 'signup'
        |INTERSECT
        |SELECT CAST(round(value) AS BIGINT) FROM events
        |WHERE event_type = 'error'""".stripMargin,
    "a10_cube" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,
    "v3_label_centroid" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |  CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
        |    AS BIGINT)) AS BIGINT) AS sum_c6,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM embeddings, generate_series(1, 64) AS g(i)
        |GROUP BY label, i""".stripMargin,
    // v5: floor(x/scale + 0.5) — IEEE divide/add/floor are bit-identical
    // across engines (round()'s tie mode is not).
    "v5_int8_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM v)
        |SELECT vec_id, CAST(i AS INTEGER) AS i,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |    ELSE floor(v[i] / scale + 0.5) END AS INTEGER) AS q,
        |  scale
        |FROM s, generate_series(1, 64) AS g(i)""".stripMargin,
    // v9: the oracle re-derives the Rademacher matrix from md5 (parity of
    // the first 4 hex chars of md5('rp_p_d') — the same derivation the
    // Scala side runs), quantizes components to exact 1e-6 longs, and sums
    // in integer arithmetic: matrix and output both hash-check.
    "v9_random_projection" ->
      """WITH signs AS (
        |  SELECT p, d,
        |    CASE WHEN ('0x' || substr(md5('rp_' || p || '_' || d), 1, 4))::BIGINT % 2 = 0
        |         THEN 1 ELSE -1 END AS s
        |  FROM generate_series(0, 15) AS gp(p), generate_series(0, 63) AS gd(d)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id, CAST(p AS INTEGER) AS proj,
        |  CAST(sum(s * CAST(floor(v[d + 1] * 1000000.0) AS BIGINT)) AS BIGINT) AS y_c6
        |FROM v, signs
        |GROUP BY vec_id, p""".stripMargin,
    // v11: same 1e-3 quantized integers via a component self-join; the
    // double arithmetic replays Spark's op order exactly (multiply,
    // divide by n, subtract, divide by n−1, divide by 1e6, round).
    "v11_covariance" -> baseCovOracle,
    // v15: the monoid fold over three ingest slices is bit-identical to
    // the one-shot pass — same integers, same oracle
    "v15_incremental_covariance" -> baseCovOracle,
    // v11b: constant-truth contract (a15/a16 pattern) — the identities
    // hold or the row hash breaks.
    "v11b_pca_contract" ->
      """SELECT CAST(c AS INTEGER) AS component,
        |  true AS eigen_ok, true AS ortho_ok,
        |  true AS ordered_ok, true AS trace_ok
        |FROM generate_series(0, 63) AS t(c)""".stripMargin,
    // v12: centroid as an ordered list from exact integer sums;
    // list_dot_product replays the fixed-order fold.
    "v12_centroid_affinity" ->
      """WITH comp AS (
        |  SELECT label, vec_id, CAST(i - 1 AS INTEGER) AS i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, generate_series(1, 64) AS g(i)),
        |cent AS (
        |  SELECT label,
        |    list(CAST(sq AS DOUBLE) / (CAST(nv AS DOUBLE) * 1000000.0)
        |      ORDER BY i) AS c
        |  FROM (SELECT label, i, CAST(sum(q) AS BIGINT) AS sq,
        |          CAST(count(*) AS BIGINT) AS nv
        |        FROM comp GROUP BY label, i)
        |  GROUP BY label),
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        |      FROM embeddings)
        |SELECT v.vec_id, v.label,
        |  round(list_dot_product(v.x, c.c) /
        |    (sqrt(list_dot_product(v.x, v.x)) *
        |     sqrt(list_dot_product(c.c, c.c))), 6) AS cos_centroid
        |FROM v JOIN cent c ON v.label = c.label""".stripMargin,
    "t9_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |bi AS (
        |  SELECT doc_id, CAST(len(t) - 1 AS INTEGER) AS n_bigrams,
        |    CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1]))) AS INTEGER) AS n_distinct_bigrams
        |  FROM tok)
        |SELECT doc_id, n_bigrams, n_distinct_bigrams,
        |  round(1.0 - CAST(n_distinct_bigrams AS DOUBLE)
        |    / CAST(n_bigrams AS DOUBLE), 6) AS dup_2gram_ratio
        |FROM bi""".stripMargin,
    "t10_quality_filter" ->
      (baseQualityReasonOracle +
        "\nSELECT doc_id, reason, reason = 'ok' AS keep FROM r"),
    "t11_curation_pipeline" ->
      """WITH corpus AS (
        |  SELECT * FROM documents WHERE source <> 'src0'),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM corpus),
        |q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      CASE WHEN len(t) < 20 THEN 'too_short'
        |           WHEN CAST(len(list_filter(t, tk -> tk IN
        |             ('the','a','an','and','of','to','in','is','it','for')))
        |             AS DOUBLE) / len(t) < 0.02 THEN 'no_stopwords'
        |           WHEN 1.0 - CAST(len(list_distinct(list_transform(
        |             generate_series(1, len(t) - 1),
        |             i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE)
        |             / (len(t) - 1) > 0.08 THEN 'repetitive'
        |           ELSE 'ok' END AS reason
        |    FROM tok) WHERE reason = 'ok'),
        |fp AS (
        |  SELECT c.doc_id, c.source,
        |    md5(regexp_replace(lower(trim(c.text)), '\s+', ' ', 'g')) AS f
        |  FROM corpus c JOIN q USING (doc_id)),
        |win AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
        |ded AS (SELECT fp.* FROM fp JOIN win USING (doc_id)),
        |bfp AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE source = 'src0'),
        |clean AS (
        |  SELECT * FROM ded
        |  WHERE NOT EXISTS (SELECT 1 FROM bfp WHERE bfp.f = ded.f))
        |SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CASE WHEN ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS group_split
        |FROM clean""".stripMargin,
    // d7 compares gram sets by 64-bit hash on the Spark side and by string
    // on the oracle side — identical counts absent collisions.
    "d7_ngram_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(CASE WHEN len(t) <= 13
        |      THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 12),
        |        i -> array_to_string(t[i:i+12], ' ')) END)) AS g
        |  FROM tok)
        |SELECT a.doc_id, CAST(count(DISTINCT a.g) AS BIGINT)
        |    AS n_contaminated_ngrams
        |FROM sh a
        |WHERE a.source <> 'src0'
        |  AND EXISTS (SELECT 1 FROM sh b
        |              WHERE b.source = 'src0' AND b.g = a.g)
        |GROUP BY a.doc_id""".stripMargin,
    "d6_decontaminate" -> baseDecontaminateOracle,
    // d10: the bloom prefilter must not change the answer — same oracle
    // as the exact anti-join.
    "d10_bloom_decontaminate" -> baseDecontaminateOracle,
    "t8_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, tk AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
        |        FROM documents)
        |  GROUP BY doc_id, tk),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |          FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(tf * (nd + 1.0) / (df + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term), n)
        |SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |WHERE rank <= 3""".stripMargin,
    // t23: BM25 with the identical float op order as the Spark side —
    // exact integer tf/df/dl/N inputs, one fixed IEEE expression each.
    "t23_bm25" -> baseBm25Oracle,
    // t24: per-bigram log-probs quantize to micro-units BEFORE the per-doc
    // mean, so every aggregate is exact integer arithmetic; the only float
    // ops are one correctly-rounded divide/ln/multiply per DISTINCT bigram
    // on identical integer inputs in both engines.
    "t24_lm_score" -> baseLmOracle,
    // t25: integer (sum, count) per doc, quantized mean — exact.
    "t25_hashed_linear" ->
      """SELECT doc_id,
        |  CAST(floor(1000000.0 * CAST(sum(w) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS lin_c6,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(tk), 1, 4))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS w
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
        |        FROM documents))
        |GROUP BY doc_id""".stripMargin,
    // t29/t29b: replay of the whole DSIR pipeline (see baseDsirOracle) —
    // the indexed form must reproduce the in-plan form exactly (same
    // integer ops on the same stored values), so both share one string.
    "t29_dsir_weights" -> baseDsirOracle,
    "t29b_dsir_indexed" -> baseDsirOracle,
    // t30: the t29 weights piped through the deterministic md5-uniform
    // rejection sampler — integer micro-unit comparison on both sides.
    "t30_dsir_resample" -> dsirResampleOracle,
    // t31: the composed gate decision — each stage's oracle as a subquery
    "t31_curation_decision" -> curationDecisionOracle,
    // t32: the calibrated decision — t31's stage oracles + an explicit
    // rank-rule threshold replay over the calibration slice
    "t32_calibrated_gate" -> calibratedGateOracle,
    // d3's LSH is candidate generation + EXACT jaccard verification, so its
    // output equals the exhaustive all-pairs answer whenever every
    // qualifying pair shares a band bucket (P(miss) = (1-s^4)^16 ≤ 2e-4 at
    // s = 0.8, and real pairs sit far above threshold). The oracle is that
    // exhaustive twin: all-pairs distinct-3-shingle Jaccard ≥ 0.8. Hashed-
    // shingle Jaccard equals string-shingle Jaccard absent 64-bit
    // collisions (negligible).
    "d3_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok)
        |SELECT a, b, jaccard FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
        |      6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    // d12: exact cross-pair Jaccard between the batch (doc_id % 20 = 0)
    // and the corpus — the same exhaustive twin d3 uses, restricted to the
    // batch×corpus cross.
    "d12_incremental_dedup" -> baseIncrementalOracle(replica0Only = false),
    // d15: the indexed path must produce EXACTLY d12's pairs (same LSH
    // seed; composite band keys only add candidates that exact
    // verification rejects), so its oracle is d12's exhaustive twin.
    "d15_incremental_indexed" -> baseIncrementalOracle(replica0Only = false),
    // d12s: d12 plus the replica-0 batch restriction (no-op at gate SF,
    // where every doc_id < 10M).
    "d12_incremental_scale" -> baseIncrementalOracle(replica0Only = true),
    // d15s: indexed probe ≡ d12s (same seed ⇒ same buckets), so it shares
    // d12s's exhaustive replica-0-batch oracle.
    "d15_incremental_scale" -> baseIncrementalOracle(replica0Only = true),
    "d13_incremental_survivors" -> baseSurvivorsOracle,
    // d17: hashed-shingle containment equals string-shingle containment
    // absent 64-bit collisions (d3's argument), and the rare-shingle
    // candidate rule is mirrored verbatim — both engines compute the same
    // posting lists, so the candidate sets are identical by construction.
    "d17_containment_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |post AS (SELECT doc_id, unnest(s) AS sg FROM sh),
        |rare AS (SELECT sg FROM post GROUP BY sg HAVING count(*) <= 5),
        |rp AS (SELECT p.doc_id, p.sg FROM post p JOIN rare r ON r.sg = p.sg),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM rp x JOIN rp y ON x.sg = y.sg AND x.doc_id <> y.doc_id)
        |SELECT a, b, containment FROM (
        |  SELECT c.a, c.b,
        |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / CAST(len(sa.s) AS DOUBLE), 6) AS containment
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.a
        |  JOIN sh sb ON sb.doc_id = c.b)
        |WHERE containment >= 0.9""".stripMargin,
    // d18: d17's rule in ingest form — rarity is CORPUS df ≤ 5 (the
    // index is the authority; batch occurrences don't count), candidates
    // are batch×corpus pairs sharing a corpus-rare shingle, both
    // orientations verify exactly. Same hashed≡string shingle argument.
    "d18_containment_indexed" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
        |bat AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
        |post AS (SELECT doc_id, unnest(s) AS sg FROM corp),
        |rare AS (SELECT sg FROM post GROUP BY sg HAVING count(*) <= 5),
        |rp AS (SELECT p.doc_id, p.sg FROM post p JOIN rare r ON r.sg = p.sg),
        |cand AS (
        |  SELECT DISTINCT b.doc_id AS batch_id, p.doc_id AS corpus_id
        |  FROM (SELECT doc_id, unnest(s) AS sg FROM bat) b
        |  JOIN rp p ON p.sg = b.sg)
        |SELECT batch_id, corpus_id, containment_batch, containment_corpus
        |FROM (
        |  SELECT c.batch_id, c.corpus_id,
        |    round(CAST(len(list_intersect(sb.s, sc.s)) AS DOUBLE)
        |      / CAST(len(sb.s) AS DOUBLE), 6) AS containment_batch,
        |    round(CAST(len(list_intersect(sb.s, sc.s)) AS DOUBLE)
        |      / CAST(len(sc.s) AS DOUBLE), 6) AS containment_corpus
        |  FROM cand c
        |  JOIN bat sb ON sb.doc_id = c.batch_id
        |  JOIN corp sc ON sc.doc_id = c.corpus_id)
        |WHERE containment_batch >= 0.9 OR containment_corpus >= 0.9""".stripMargin,
    // d19: string-shingle twin of the hashed vocabulary (equal modulo
    // 64-bit collisions — d3's correspondence rule); all-pairs frame with
    // zero-overlap pairs kept.
    "d19_source_overlap" ->
      """WITH tok AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, u.s AS s
        |  FROM tok, UNNEST(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS u(s)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |          FROM sh GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  CAST(COALESCE(i, 0) AS BIGINT) AS n_shared,
        |  round(CAST(COALESCE(i, 0) AS DOUBLE)
        |    / CAST(sa.n + sb.n - COALESCE(i, 0) AS DOUBLE), 6) AS jaccard,
        |  round(CAST(COALESCE(i, 0) AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
        |    AS containment_a,
        |  round(CAST(COALESCE(i, 0) AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
        |    AS containment_b
        |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN inter ON inter.src_a = sa.source
        |  AND inter.src_b = sb.source""".stripMargin,
    // d16: the indexed accept gate ≡ d13 (d15 ≡ d12 pairs ⇒ identical
    // anti-join), so it shares d13's exhaustive oracle.
    "d16_survivors_indexed" -> baseSurvivorsOracle,
    // d14: d13's cross-hit filter composed with intra-batch components —
    // exhaustive exact pairs within the batch, recursive reachability
    // (d8's closure pattern), min-id representative election.
    "d14_incremental_full" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |hits AS (
        |  SELECT DISTINCT b.doc_id AS bid
        |  FROM sh b JOIN sh c ON b.doc_id % 20 = 0 AND c.doc_id % 20 <> 0
        |  WHERE round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
        |      CAST(len(b.s) + len(c.s) - len(list_intersect(b.s, c.s)) AS DOUBLE),
        |      6) >= 0.8),
        |bpairs AS (
        |  SELECT a, b FROM (
        |    SELECT a.doc_id AS a, b.doc_id AS b,
        |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
        |        6) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      AND a.doc_id % 20 = 0 AND b.doc_id % 20 = 0)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM bpairs UNION SELECT b, a FROM bpairs),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v),
        |rep AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 20 = 0
        |  AND doc_id NOT IN (SELECT bid FROM hits)
        |  AND doc_id NOT IN (SELECT doc_id FROM rep WHERE doc_id <> rep_id)""".stripMargin,
    // d8 resolves the d3 pair graph into components; the oracle recomputes
    // the exhaustive pair list (d3's oracle twin) and takes its transitive
    // closure with WITH RECURSIVE — reach(id, r) = r reachable from id —
    // then min-reachable per node = the representative, exactly the
    // large-star/small-star fixpoint. Components are tiny at gate SF, so
    // the recursion is cheap.
    "d8_dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT a.doc_id AS a, b.doc_id AS b,
        |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
        |        6) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v),
        |rep AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
        |sz AS (SELECT rep_id, count(*) AS cluster_size FROM rep GROUP BY rep_id)
        |SELECT doc_id, rep_id, cluster_size FROM rep JOIN sz USING (rep_id)""".stripMargin,
    // d9: anti-join of the corpus against non-representative cluster
    // members — the deduplicated corpus itself.
    "d9_dedup_survivors" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT a.doc_id AS a, b.doc_id AS b,
        |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
        |        6) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v),
        |rep AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM rep WHERE doc_id <> rep_id)""".stripMargin,
    // d11b: all-pairs cosine ≥ 0.45 over the vec_id < 2000 slice, resolved
    // to survivors through the same recursive reachability as d9. round-6
    // cosine matches gvec.cosine bit-for-bit (the v1/d5-proven kernel).
    "d11b_semantic_exact" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 2000),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT e2.u AS id, reach.r AS r FROM edges e2
        |  JOIN reach ON reach.id = e2.v),
        |rep AS (SELECT id, min(r) AS rep_id FROM reach GROUP BY id)
        |SELECT vec_id FROM e
        |WHERE vec_id NOT IN (SELECT id FROM rep WHERE id <> rep_id)""".stripMargin,
    // d4's fingerprint is an md5-low64-token-hash SimHash, replicable in
    // SQL; and with 4 bands of 16 bits, any pair at hamming ≤ 3 shares at
    // least one untouched band (pigeonhole), so the banded LSH has recall
    // EXACTLY 1 — its output equals the all-pairs hamming ≤ 3 answer.
    "d4_simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tk), 1, 8))::BIGINT AS HUGEINT) * 4294967296
        |      + ('0x' || substr(md5(tk), 9, 8))::BIGINT AS h
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, g.b AS b,
        |    sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th, generate_series(0, 63) AS g(b)
        |  GROUP BY doc_id, g.b),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN fpu >= 9223372036854775808
        |         THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
        |  FROM (SELECT doc_id,
        |          sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b
        |              ELSE 0 END) AS fpu
        |        FROM v GROUP BY doc_id))
        |SELECT a, b, hamming FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id)
        |WHERE hamming <= 3""".stripMargin,
    // d5 likewise verifies candidates with EXACT cosine, so its output is
    // the exhaustive all-pairs answer when recall is 1 — and the testdata's
    // max inter-vector cosine (0.513) sits far below the 0.99 threshold, so
    // the oracle also proves the LSH emits no false positives.
    "d5_embedding_neardup" ->
      """SELECT a, b, cosine FROM (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.99""".stripMargin,
    "d2_ngram_jaccard" -> baseBucketedJaccardOracle,
    // d21/d21s compute d2's exact answer at the gate SF (scoped AllPairs ≡
    // blocked quadratic on the same buckets; one replica → the _rep scope
    // is constant), so they share d2's oracle
    "d21_scoped_scale" -> baseBucketedJaccardOracle,
    "d21_scoped_prefix_jaccard" -> baseBucketedJaccardOracle,
    // d20: the UNBLOCKED exact Jaccard join — quadratic in SQL (fine at
    // the gate SF), prefix-filtered in the engine
    "d20_prefix_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) AS i,
        |         CAST(len(a.t) AS DOUBLE) AS da, CAST(len(b.t) AS DOUBLE) AS db
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
        |SELECT a, b, round(i / (da + db - i), 6) AS jaccard
        |FROM pairs WHERE round(i / (da + db - i), 6) >= 0.8""".stripMargin,
    "t1_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS INTEGER) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |     + len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS INTEGER) AS n_bpeish_tokens
        |FROM documents""".stripMargin,
    "t2_quality_score" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    CAST(len(text) AS INTEGER) AS len_chars,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      tk -> tk IN ('the','a','an','and','of','to','in','is','it','for'))) AS INTEGER) AS sh,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INTEGER) AS alpha
        |  FROM documents)
        |SELECT doc_id, len_chars, n_tokens,
        |  round(CAST(len_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS mean_token_len,
        |  round(CAST(sh AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
        |  round(CAST(alpha AS DOUBLE) / CAST(len_chars AS DOUBLE), 6) AS alpha_ratio,
        |  round(CAST(sh AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5
        |      + CAST(alpha AS DOUBLE) / CAST(len_chars AS DOUBLE) * 0.5, 6) AS quality_score
        |FROM x""".stripMargin,
    "t3_lang_id" ->
      """WITH x AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, tk -> tk IN ('the','a','and','of','is'))) AS INTEGER) AS hits_en,
        |    CAST(len(list_filter(t, tk -> tk IN ('el','la','de','que','y'))) AS INTEGER) AS hits_es,
        |    CAST(len(list_filter(t, tk -> tk IN ('der','die','das','und','ist'))) AS INTEGER) AS hits_de,
        |    CAST(len(list_filter(t, tk -> tk IN ('le','la','les','et','est'))) AS INTEGER) AS hits_fr,
        |    CAST(len(list_filter(t, tk -> tk IN ('的','是','了','在','我'))) AS INTEGER) AS hits_zh
        |  FROM x)
        |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr, hits_zh,
        |  CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr, hits_zh) = 0 THEN 'unk'
        |       WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'en'
        |       WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'es'
        |       WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'de'
        |       WHEN hits_fr = greatest(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_guess
        |FROM h""".stripMargin,
    "t4_md5_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    // t5 replicates the native rolling-fingerprint expression in pure SQL:
    // each length-16 window's polynomial hash (base 1000003, mod 2^64 —
    // the rolling identity makes window hashes direct polynomial sums, so
    // no rolling state is needed) is finalized with splitmix64 decomposed
    // into 32-bit mulmods in HUGEINT arithmetic, then the signed min is
    // taken. `p` holds B^k mod 2^64 for k = 0..15.
    "t5_rolling_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |pw AS (SELECT [CAST(1 AS HUGEINT),
        |  CAST(1000003 AS HUGEINT),
        |  CAST(1000006000009 AS HUGEINT),
        |  CAST(1000009000027000027 AS HUGEINT),
        |  CAST(14003818205314896721 AS HUGEINT),
        |  CAST(14453212906556403763 AS HUGEINT),
        |  CAST(10923514805226455897 AS HUGEINT),
        |  CAST(12924618581234127435 AS HUGEINT),
        |  CAST(1460077494926286753 AS HUGEINT),
        |  CAST(3634980586811902243 AS HUGEINT),
        |  CAST(5231796974404119081 AS HUGEINT),
        |  CAST(2455841760392682171 AS HUGEINT),
        |  CAST(15642640937032856817 AS HUGEINT),
        |  CAST(14911146631531166995 AS HUGEINT),
        |  CAST(5600660903763878393 AS HUGEINT),
        |  CAST(6397295411589846571 AS HUGEINT)] AS p),
        |cp AS (
        |  SELECT doc_id, length(s) AS n,
        |    list_transform(generate_series(1, length(s)),
        |      i -> unicode(substr(s, i, 1))) AS c
        |  FROM d),
        |wh AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN n <= 16 THEN
        |      [coalesce(list_sum(list_transform(generate_series(1, n),
        |         j -> CAST(c[j] AS HUGEINT) * p[n - j + 1])), 0)
        |       % 18446744073709551616]
        |    ELSE
        |      list_transform(generate_series(1, n - 15),
        |        w -> coalesce(list_sum(list_transform(generate_series(0, 15),
        |          j -> CAST(c[w + j] AS HUGEINT) * p[16 - j])), 0)
        |          % 18446744073709551616)
        |    END) AS h
        |  FROM cp, pw),
        |s1 AS (SELECT doc_id,
        |  (h + 11400714819323198485) % 18446744073709551616 AS x FROM wh),
        |s2 AS (SELECT doc_id, xor(x, x >> 30) AS x FROM s1),
        |s3 AS (SELECT doc_id,
        |  (((x // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
        |   + (x % 4294967296) * 13787848793156543929)
        |   % 18446744073709551616 AS x FROM s2),
        |s4 AS (SELECT doc_id, xor(x, x >> 27) AS x FROM s3),
        |s5 AS (SELECT doc_id,
        |  (((x // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
        |   + (x % 4294967296) * 10723151780598845931)
        |   % 18446744073709551616 AS x FROM s4),
        |s6 AS (SELECT doc_id, xor(x, x >> 31) AS x FROM s5)
        |SELECT doc_id,
        |  min(CAST(CASE WHEN x >= 9223372036854775808
        |       THEN x - 18446744073709551616 ELSE x END AS BIGINT))
        |    AS fingerprint64
        |FROM s6 GROUP BY doc_id""".stripMargin,
    // s11: the avro write→read cycle must be lossless, so the oracle is
    // simply the parquet original.
    "s11_avro_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    // s12/s13: round trips must reproduce the source table exactly — the
    // oracle IS the original parquet.
    "s12_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "s13_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "s14_orc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    // v19: both rankings replayed in full from the SHARED chains (v1's
    // exact chain + v6's requantized chain — the same strings those
    // oracles ride, so the contracts cannot drift apart), then the
    // metric join/agg — rank arithmetic only, so recall/MRR hash-check
    // end to end.
    "v19_retrieval_metrics" ->
      s"""WITH $vecCTE,
         |$exactRankCTEs,
         |$int8RankCTEs,
         |j AS (
         |  SELECT x.query_id, x.rank AS x_rank, a.rank AS a_rank
         |  FROM xt x LEFT JOIN axt a
         |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id)
         |SELECT query_id,
         |  CAST(count(a_rank) AS BIGINT) AS n_hits,
         |  round(CAST(count(a_rank) AS DOUBLE) / 5, 6) AS recall_at_k,
         |  round(coalesce(max(CASE WHEN x_rank = 1
         |    THEN CAST(1 AS DOUBLE) / a_rank END), 0), 6) AS mrr
         |FROM j GROUP BY query_id""".stripMargin,
    // v20: the v12 affinity chain + an ascending row_number replay of the
    // bounded-heap selection (ties to the smaller vec_id, the heap's
    // contract).
    "v20_prototype_select" ->
      """WITH comp AS (
        |  SELECT label, vec_id, CAST(i - 1 AS INTEGER) AS i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, generate_series(1, 64) AS g(i)),
        |cent AS (
        |  SELECT label,
        |    list(CAST(sq AS DOUBLE) / (CAST(nv AS DOUBLE) * 1000000.0)
        |      ORDER BY i) AS c
        |  FROM (SELECT label, i, CAST(sum(q) AS BIGINT) AS sq,
        |          CAST(count(*) AS BIGINT) AS nv
        |        FROM comp GROUP BY label, i)
        |  GROUP BY label),
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        |      FROM embeddings),
        |aff AS (
        |  SELECT v.vec_id, v.label,
        |    round(list_dot_product(v.x, c.c) /
        |      (sqrt(list_dot_product(v.x, v.x)) *
        |       sqrt(list_dot_product(c.c, c.c))), 6) AS cos_centroid
        |  FROM v JOIN cent c ON v.label = c.label)
        |SELECT label, vec_id, CAST(rank AS INTEGER) AS rank_in_label,
        |       cos_centroid
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY label ORDER BY cos_centroid ASC, vec_id) AS rank
        |      FROM aff)
        |WHERE rank <= 10""".stripMargin,
    // t20: same shingle CASE as the d8 oracle (docs of ≤ 3 tokens have one
    // whole-text gram); df threshold compares count(double) against
    // n_docs · 0.01 — one IEEE multiply+compare, identical both engines.
    "t20_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (
        |  SELECT g FROM g GROUP BY g
        |  HAVING CAST(count(*) AS DOUBLE) >=
        |    (SELECT CAST(count(*) AS DOUBLE) FROM documents) * 0.01),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler FROM g
        |  WHERE g IN (SELECT g FROM hot) GROUP BY doc_id)
        |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams,
        |  coalesce(n_boiler, 0) AS n_boiler,
        |  CAST(floor(1000000.0 * coalesce(n_boiler, 0) / len(s)) AS BIGINT)
        |    AS boiler_c6
        |FROM sh LEFT JOIN per USING (doc_id)""".stripMargin,
    // t21: passages are non-overlapping 8-token windows (1-based inclusive
    // slices); a passage is shared when ≥2 distinct docs contain it. The
    // engine hashes passages (xxhash64) where the oracle compares strings —
    // identical counts, 64-bit collisions aside.
    "t21_passage_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |pas AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) // 8),
        |    i -> array_to_string(t[(i-1)*8+1:(i-1)*8+8], ' '))) AS p
        |  FROM tok WHERE len(t) >= 8),
        |shared AS (
        |  SELECT p FROM pas GROUP BY p HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_passages,
        |  count(CASE WHEN p IN (SELECT p FROM shared) THEN 1 END)
        |    AS n_dup_passages,
        |  round(CAST(count(CASE WHEN p IN (SELECT p FROM shared) THEN 1 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
        |FROM pas GROUP BY doc_id""".stripMargin,
    // t22: the keep gate is integer-only on both sides
    // (bucket·src_tokens < 10000·min_tokens) — no float rate compare.
    "t22_domain_mixture" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |src AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM tok GROUP BY source),
        |m AS (SELECT min(src_tokens) AS min_tokens FROM src)
        |SELECT t.doc_id, t.source, t.n_tokens,
        |  round(CAST(min_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE), 6)
        |    AS sample_rate
        |FROM tok t JOIN src USING (source) CROSS JOIN m
        |WHERE (('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4))::BIGINT
        |       % 10000) * src_tokens < 10000 * min_tokens""".stripMargin,
    // t15: DuckDB list slices are 1-based inclusive, so a 128-token window
    // starting at s is t[s : s+127] (clipped at the document end).
    "t15_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t), 96)) AS s
        |  FROM tok)
        |SELECT doc_id,
        |  CAST((s - 1) // 96 AS INTEGER) AS chunk_id,
        |  CAST(len(t[s:s + 127]) AS INTEGER) AS n_chunk_tokens,
        |  array_to_string(t[s:s + 127], ' ') AS chunk_text
        |FROM st""".stripMargin,
    // a11: with capacity >= |bigram vocab| the sketch is exact and err = 0,
    // so the oracle is the true document-frequency top 50.
    "a11_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |bi AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))) AS bigram
        |  FROM tok),
        |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |      FROM bi GROUP BY bigram)
        |SELECT bigram, CAST(rn AS INTEGER) AS rank, cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM (SELECT bigram, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, bigram) AS rn FROM c)
        |WHERE rn <= 50""".stripMargin,
    // t19: identical op order both engines — exact BIGINT products, one
    // double division, floor. No libm log anywhere.
    "t19_bigram_lift" ->
      """WITH tokall AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS x
        |  FROM documents),
        |uni AS (SELECT x, count(*) AS cx FROM tokall GROUP BY x),
        |tot AS (SELECT count(*) AS n FROM tokall),
        |tok AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |st AS (
        |  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM tok),
        |bi AS (
        |  SELECT t[i] AS x, t[i + 1] AS y, count(*) AS cxy
        |  FROM st GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT b.x, b.y, CAST(b.cxy AS BIGINT) AS cxy,
        |  CAST(floor(1000000.0 * (
        |    CAST(tot.n * b.cxy AS DOUBLE) / CAST(ux.cx * uy.cx AS DOUBLE)))
        |    AS BIGINT) AS lift_c6
        |FROM bi b CROSS JOIN tot
        |JOIN uni ux ON ux.x = b.x
        |JOIN uni uy ON uy.x = b.y""".stripMargin,
    "t17_weighted_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |  < CASE source WHEN 'src1' THEN 16384 WHEN 'src2' THEN 32768
        |      WHEN 'src3' THEN 0 ELSE 49152 END""".stripMargin,
    // t27: full-epoch thresholds and 1/65536 fractional gates precomputed
    // as integer literals (2.5 -> 2 full + 32768; 0.25 -> 16384; 3.0 ->
    // 3 full + 0; default 1.0 -> 1 full + 0), so no engine-specific
    // decimal arithmetic is in play; the salt is doc_id:epoch.
    "t27_mixture_resample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src1' THEN 2 WHEN 'src2' THEN 0
        |      WHEN 'src3' THEN 3 WHEN 'src4' THEN 0 ELSE 1 END AS n_full,
        |    CASE source WHEN 'src1' THEN 32768 WHEN 'src2' THEN 16384
        |      WHEN 'src3' THEN 0 WHEN 'src4' THEN 0 ELSE 0 END AS thr
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, n_full, thr,
        |    unnest(generate_series(0, n_full)) AS epoch
        |  FROM w)
        |SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch,
        |  ('0x' || substr(md5(doc_id || ':' || epoch), 1, 8))::BIGINT
        |    AS order_key
        |FROM e
        |WHERE epoch < n_full
        |  OR ('0x' || substr(md5(doc_id || ':' || epoch), 1, 4))::BIGINT
        |     < thr""".stripMargin,
    "t18_corpus_stats" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |    AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,
    // t16: both engines compute (1e6 * integer sum) / integer count in
    // double then floor — exact IEEE, no libm log involved.
    "t16_token_rarity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |freq AS (
        |  SELECT token, count(*) AS corpus_freq FROM tok GROUP BY token)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(floor(1000000.0 * sum(corpus_freq) / count(*)) AS BIGINT)
        |    AS mean_freq_c6
        |FROM tok JOIN freq USING (token)
        |GROUP BY doc_id""".stripMargin,
    "t12_source_cap" ->
      """SELECT doc_id, source, source_rank FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY length(text) DESC, doc_id) AS INTEGER) AS source_rank
        |  FROM documents)
        |WHERE source_rank <= 10""".stripMargin,
    // Same replace order as the engine (emails, then IPs, then phones);
    // each count runs over the text its replacement ran against, so the
    // counts equal placeholders inserted. 'g' = replace all.
    "t13_pii_redact" ->
      """WITH staged AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |      AS after_email,
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |      AS after_ip
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(after_ip,
        |    '\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -]?[0-9]{0,4}',
        |    '<PHONE>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(after_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER)
        |    AS n_ips,
        |  CAST(len(regexp_extract_all(after_ip,
        |    '\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -]?[0-9]{0,4}')) AS INTEGER)
        |    AS n_phones
        |FROM staged""".stripMargin,
    "t14_sequence_pack" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER)
        |      AS n_tokens
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM tok)
        |SELECT doc_id, source, n_tokens, token_offset,
        |  CAST(token_offset // 512 AS BIGINT) AS pack_id
        |FROM off""".stripMargin,
    // t28: the greedy recurrence (remaining-space feedback) replayed as a
    // recursive CTE walking each (source, shard) group in doc_id order —
    // the exact serial semantics the mapPartitions pass implements.
    "t28_greedy_pack" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 4 AS INTEGER) AS shard,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER)
        |      AS n_tokens
        |  FROM documents),
        |ord AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source, shard ORDER BY doc_id) AS rn
        |  FROM tok),
        |pack AS (
        |  SELECT doc_id, source, shard, n_tokens, rn,
        |    0 AS pack_seq, 512 - n_tokens AS rem
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.source, o.shard, o.n_tokens, o.rn,
        |    CASE WHEN o.n_tokens > p.rem THEN p.pack_seq + 1
        |         ELSE p.pack_seq END,
        |    CASE WHEN o.n_tokens > p.rem THEN 512 - o.n_tokens
        |         ELSE p.rem - o.n_tokens END
        |  FROM ord o
        |  JOIN pack p ON o.source = p.source AND o.shard = p.shard
        |    AND o.rn = p.rn + 1)
        |SELECT doc_id, source, shard, n_tokens,
        |  CAST(pack_seq AS INTEGER) AS pack_seq
        |FROM pack""".stripMargin,
    // t33/t34: BPE training replayed as 32 unrolled stages, then the
    // tokenization flatten resp. the t28 pack recursion at budget 2048
    "t33_bpe_tokenize" -> bpeTokenizeOracle,
    "t34_bpe_pack" -> bpePackOracle,
    "t35_bpe_scaled" -> bpeScaledOracle,
    "t36_bpe_chars" -> bpeCharsOracle,
    "t6_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CASE WHEN ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS group_split
        |FROM documents""".stripMargin,
    // t26: d8's recursive reachability (exact all-pairs Jaccard closure —
    // LSH recall is 1 at gate SFs, the d3-proven equivalence) resolves
    // representatives; t6's md5 gate then hashes rep_id instead of doc_id.
    "t26_leakage_safe_split" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tok),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT a.doc_id AS a, b.doc_id AS b,
        |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
        |        6) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v),
        |rep AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
        |full_rep AS (
        |  SELECT d.doc_id, coalesce(r.rep_id, d.doc_id) AS rep_id
        |  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT doc_id, rep_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM full_rep""".stripMargin,
    "t7_top_bigrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |bi AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))) AS bigram
        |  FROM tok)
        |SELECT bigram, CAST(count(*) AS BIGINT) AS n
        |FROM bi GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin,
    // The m* oracles recompute the analytic media parameters (image dims,
    // WAV channels/rate/frames, size-derived video fallback) directly from
    // doc_id/text — Spark must parse its own synthesized PNG/WAV bytes to
    // match them. Note DuckDB strlen() counts BYTES (length() counts
    // characters), so the video fallback matches the engine's UTF-8
    // n_bytes exactly, non-ASCII text included.
    "m1_media_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 8 + doc_id % 57
        |    WHEN 1 THEN 1 + doc_id % 2
        |    ELSE strlen(text) % 1024 + 1 END AS INTEGER) AS width,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 8 + (doc_id // 3) % 57
        |    WHEN 1 THEN 8000 + 1000 * (doc_id % 5)
        |    ELSE strlen(text) * 31 % 1024 + 1 END AS INTEGER) AS height,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 1
        |    WHEN 1 THEN 100 + doc_id % 400
        |    ELSE strlen(text) % 64 + 1 END AS INTEGER) AS n_frames,
        |  doc_id % 3 <> 2 AS decode_ok
        |FROM documents""".stripMargin,
    "m2_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 3
        |      WHEN 0 THEN 8 + doc_id % 57
        |      WHEN 1 THEN 1 + doc_id % 2
        |      ELSE strlen(text) % 1024 + 1 END AS INTEGER) AS width,
        |    CAST(CASE doc_id % 3
        |      WHEN 0 THEN 8 + (doc_id // 3) % 57
        |      WHEN 1 THEN 8000 + 1000 * (doc_id % 5)
        |      ELSE strlen(text) * 31 % 1024 + 1 END AS INTEGER) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CAST(greatest(1, least(width, CAST(floor(
        |    width * 256.0 / greatest(width, height)) AS BIGINT)))
        |    AS INTEGER) AS out_width,
        |  CAST(greatest(1, least(height, CAST(floor(
        |    height * 256.0 / greatest(width, height)) AS BIGINT)))
        |    AS INTEGER) AS out_height
        |FROM m""".stripMargin,
    "m3_frame_sample" ->
      """SELECT doc_id,
        |  CAST(unnest(generate_series(0, strlen(text) % 64, 8)) AS INTEGER) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "x5_running_sum" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_c2
        |FROM events""".stripMargin,
    // x8: unique ordering key (ts, event_id) ⟹ no rank peers; ntile is
    // integer; pct_rank/cume are one IEEE division of exact ints each.
    "x8_window_analytics" ->
      """SELECT event_id, user_id,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    // x9/x10 read engine-written layouts (partitioned / compacted); the
    // oracle reads the flat source parquet — layout must never change data.
    "x9_partitioned_scan" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len
        |FROM documents
        |WHERE source IN ('src1', 'src2', 'src3')
        |GROUP BY source, lang""".stripMargin,
    "x10_compacted_scan" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY source""".stripMargin,
    // x11 reads the z-ordered layout; the oracle reads the flat source
    // AND replays the Morton interleave per row — layout must never
    // change data, and the z arithmetic must agree bit for bit.
    "x11_zorder_scan" ->
      """WITH z AS (
        |  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
        |    list_sum(list_transform(range(0, 16), i ->
        |      (((l_partkey >> i) & 1) << (2 * i)) +
        |      (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS zval
        |  FROM lineitem
        |  WHERE l_partkey <= 64 AND l_suppkey <= 8)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(q) AS BIGINT) AS sum_qty,
        |  CAST(sum(zval) AS BIGINT) AS sum_z
        |FROM z GROUP BY l_returnflag""".stripMargin,
    "a12_grouping_sets" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin,
    "a13_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "a14_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS total_c2
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
        |UNION ALL
        |SELECT o_orderstatus, 'total_c2' AS metric, total_c2 FROM wide""".stripMargin,
    // e4: the chained conditional window minima replicate 1:1; DISTINCT
    // collapses the per-event rows (window values are constant per user).
    "e4_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t1 FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
        |           AND ts_us >= t1 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
        |           AND ts_us >= t2 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t3 FROM s2)
        |SELECT DISTINCT user_id, t1 AS t_view_us, t2 AS t_click_us,
        |  t3 AS t_purchase_us,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
        |FROM s3""".stripMargin,
    // e5: exact integer week arithmetic (`//` ≡ Spark's `div`) — a double
    // divide could misplace a boundary user by one ulp.
    "e5_cohort_retention" ->
      """WITH s AS (
        |  SELECT user_id, min(epoch_us(ts)) AS signup_us FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (
        |  SELECT e.user_id, epoch_us(e.ts) AS ts_us, s.signup_us
        |  FROM events e JOIN s USING (user_id)
        |  WHERE epoch_us(e.ts) >= s.signup_us)
        |SELECT signup_us // 604800000000 AS cohort_week,
        |  (ts_us - signup_us) // 604800000000 AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,
    // x6's salt is a physical-layout trick only — the oracle is the plain
    // equi-join, proving result invariance.
    "x6_salted_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, l_quantity
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    // x7 reads pre-bucketed tables; bucketing must not change results, so
    // the oracle joins the original parquet.
    "x7_bucketed_join" ->
      """SELECT o_orderkey, o_custkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_fl
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey""".stripMargin,
    "v4_knn_label_agreement" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
        |        label AS n_label
        |      FROM embeddings),
        |s AS (
        |  SELECT query_id, q_label, neighbor_id, n_label,
        |         round(list_cosine_similarity(qv, cv), 6) AS cosine
        |  FROM c, q WHERE neighbor_id <> query_id),
        |top AS (
        |  SELECT query_id, q_label, n_label FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |    FROM s)
        |  WHERE rank <= 5)
        |SELECT query_id, q_label,
        |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree
        |FROM top GROUP BY query_id, q_label""".stripMargin,
    "v1_brute_cosine_topk" -> baseV1Oracle,
    // v10: v1's oracle with raw dot ranking (list_dot_product over the
    // same DOUBLE[] cast — identical fixed-order double accumulation).
    "v16_pq_topk" -> pqOracle,
    // v17b: full-probe IVFPQ+refine ≡ trained ADC shortlist + exact
    // re-rank — the generated replay of exactly that chain
    "v17b_ivfpq_full_probe" -> pqRerankOracle,
    // v18: full-probe over the materialized codes+raw index ≡ the same
    // shortlist-then-rerank chain
    "v18_ivfpq_indexed" -> pqRerankOracle,
    "v10_brute_mips_topk" -> baseMipsOracle,
    // v10b: full-probe augmented IVF ≡ brute MIPS (see the queries comment)
    "v10b_ivf_mips_full_probe" -> baseMipsOracle,
    // v6: the v1 ranking recomputed over SQL-requantized vectors — the
    // scales cancel in cosine, so quantized retrieval is exactly
    // checkable. Composed from the shared int8 chain (one quantization
    // contract, also ridden by v19's replay).
    "v6_int8_topk" ->
      s"""WITH $vecCTE,
         |$int8RankCTEs
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
         |FROM axt""".stripMargin
  // exhaustive IVF must reproduce the brute-force answer bit-for-bit
  ) + ("v2b_ivf_full_probe" -> baseV1Oracle) +
    ("v8_ivf_indexed" -> baseV1Oracle) +
    // v13b: full-rank PCA rotation preserves cosine ⇒ must equal brute
    ("v13b_pca_full_rank" -> baseV1Oracle) +
    // v14b: Parseval constant-truth contract — all-dim reconstruction
    // error vanishes for every vector
    ("v14b_pca_outlier_contract" ->
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, true AS recon_zero
        |FROM embeddings""".stripMargin) +
    // v7b: the exact kNN graph over the bounded slice — every vector is a
    // query; brute-force rank with the same round-then-tiebreak contract.
    ("v7b_knn_exact" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 2000),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cosine
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s)
        |WHERE rank <= 5""".stripMargin) +
    // the indexed scorers must reproduce their in-plan twins exactly —
    // the model tables hold the same values the oracle derives in SQL
    ("t23b_bm25_indexed" -> baseBm25Oracle) +
    ("t24b_lm_score_indexed" -> baseLmOracle)

  /** Once-per-(source data, session) bucketed ingest backing x7: pays the
    * bucket shuffle at most once so repeat executions measure the
    * recurring co-located join. The catalog table name embeds (a) the
    * sanitized FULL source path — not a 32-bit `String.hashCode`, which
    * can collide across data dirs — and (b) the source's latest
    * modification time, so data regenerated in-place under the same path
    * triggers a fresh ingest instead of silently serving stale buckets.
    */
  private def bucketedIngest(s: SparkSession, sfDir: String, src: String,
      cols: Seq[String], key: String, buckets: Int = 8): String = {
    val name = s"graft_bkt_${sourceStamp(s, sfDir, src)}"
    if (!s.catalog.tableExists(name))
      Layout.writeBucketed(
        table(s, sfDir, src).select(cols.map(col): _*), name, key, buckets)
    name
  }

  /** Identity stamp for a once-per-(source data, session) layout ingest:
    * the SANITIZED FULL source path (a 32-bit `String.hashCode` can
    * collide across data dirs) plus the source's latest modification time,
    * so data regenerated in-place under the same path triggers a fresh
    * ingest instead of silently serving a stale layout.
    */
  private def sourceStamp(s: SparkSession, sfDir: String, src: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$src.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(path)
    val mtime =
      if (st.isDirectory)
        (st.getModificationTime +:
          fs.listStatus(path).map(_.getModificationTime).toSeq).max
      else st.getModificationTime
    val slug = s"${sfDir}_$src".toLowerCase.replaceAll("[^a-z0-9]+", "_")
    s"${slug}_${java.lang.Long.toHexString(mtime)}"
  }

  /** Layouts land under the session warehouse next to the bucketed tables
    * — same lifecycle, same disk, stamped like [[sourceStamp]] so stale
    * data can never be served.
    */
  private def layoutDir(s: SparkSession, sfDir: String, src: String,
      tag: String): (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val root = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "graft_layout")
    val dir = new org.apache.hadoop.fs.Path(
      root, s"${tag}_${sourceStamp(s, sfDir, src)}")
    (dir, dir.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Crash-safe once-per-layout gate: `build` runs only when the marker
    * file — written AFTER the build completes — is absent. Gating on the
    * directory itself would let a crash mid-build (the dir exists the
    * moment the first write starts) permanently serve a partial layout:
    * the stamp is path+mtime, so nothing would ever self-heal. A partial
    * dir without the marker is deleted and rebuilt. The `_` prefix keeps
    * the marker invisible to Spark's file index, like `_SUCCESS`.
    */
  private def gatedBuild(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)(build: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_GRAFT_COMPLETE")
    if (!fs.exists(marker)) {
      if (fs.exists(dir)) fs.delete(dir, true)
      build
      fs.create(marker, true).close()
    }
  }

  /** Once-per-(source data, session) directory-partitioned ingest backing
    * x9 (the [[Layout.writePartitioned]] contract: pay the layout write
    * once, every later scan with a partition predicate prunes directories).
    */
  private def partitionedIngest(s: SparkSession, sfDir: String, src: String,
      partCol: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, src, "part")
    gatedBuild(fs, dir) {
      Layout.writePartitioned(table(s, sfDir, src), dir.toString, partCol)
    }
    dir.toString
  }

  /** Once-per-(source data, session) compacted ingest backing x10: a
    * deliberately fragmented 16-file snapshot is compacted to
    * `targetFiles` (count asserted — the layout contract), content
    * untouched. Uses the MANIFESTED protocol (r13): the fragmented copy
    * commits as snapshot v1, compaction as v2 via one atomic pointer
    * write — the zero-retry form a standing ingest loop needs
    * ([[Layout.writeManifested]] / [[Layout.compactManifested]]).
    */
  private def compactedIngest(s: SparkSession, sfDir: String, src: String,
      targetFiles: Int): String = {
    val (dir, fs) = layoutDir(s, sfDir, src, "compact")
    gatedBuild(fs, dir) {
      Layout.writeManifested(table(s, sfDir, src), dir.toString,
        targetFiles = 16)
      Layout.compactManifested(s, dir.toString, targetFiles)
      val (_, cur) = Layout.resolveManifest(fs, dir).get
      val nFiles = cur.map(d => fs.listStatus(d)
        .count(st => st.getPath.getName.endsWith(".parquet"))).sum
      require(nFiles <= targetFiles,
        s"compactManifested left $nFiles files at $cur, expected <= $targetFiles")
    }
    dir.toString
  }

  /** Once-per-(source data, session) Z-order-clustered lineitem copy
    * backing x11: 32 files range-partitioned and sorted by the Morton
    * interleave of (l_partkey, l_suppkey), so min/max stats are tight on
    * BOTH keys and a 2-d rectangle scan prunes most row groups.
    *
    * Layout `bits` is derived from the keys' actual domain
    * (ceil(log2(max+1)), capped at 31) — zvalue's contract masks inputs
    * to their low `bits` bits, so a fixed 16 would alias l_partkey above
    * 2^16 (TPC-H sf ≳ 0.33) and silently destroy the clustering the
    * layout exists for. This is the LAYOUT interleave only; the sum_z
    * hash-check column in the x11 query keeps the literal bits=16 its
    * DuckDB oracle replays.
    */
  private def zorderIngest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "lineitem", "zorder")
    gatedBuild(fs, dir) {
      val src = table(s, sfDir, "lineitem")
      val maxKey = src.agg(greatest(max(col("l_partkey").cast("long")),
        max(col("l_suppkey").cast("long")))).head().getLong(0)
      val bits = math.min(31, math.max(1,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(maxKey, 1L))))
      graft.engine.Layout.zorderWrite(src, dir.toString,
        targetFiles = 32, "l_partkey", "l_suppkey", bits)
    }
    dir.toString
  }

  /** Once-per-(source data, session) banded-signature index backing d15:
    * the corpus's LSH band rows in a bucketed table + shingle sets in
    * parquet (written LAST — it gates reuse, so a crash mid-build
    * re-ingests instead of serving a bandless/shingleless index).
    */
  private def bandedIngest(s: SparkSession, sfDir: String): (String, String) = {
    val stamp = sourceStamp(s, sfDir, "documents")
    val name = s"graft_band_$stamp"
    val (dir, fs) = layoutDir(s, sfDir, "documents", "bandsh")
    val shPath = new org.apache.hadoop.fs.Path(dir, "sh").toString
    if (!s.catalog.tableExists(name) ||
        !fs.exists(new org.apache.hadoop.fs.Path(shPath)))
      Dedup.buildBandedIndex(
        table(s, sfDir, "documents").filter(col("doc_id") % 20 =!= 0),
        name, shPath)
    (name, shPath)
  }

  /** Once-per-(source data, session) containment posting index backing
    * d18: shingle postings of the d15 corpus in a bucketed table, built
    * from the SAME shingle store as the band index (one tokenize+shingle
    * pass feeds both candidate generators).
    */
  private def containIngest(s: SparkSession, sfDir: String): (String, String) = {
    val (_, shPath) = bandedIngest(s, sfDir)
    val name = s"graft_post_${sourceStamp(s, sfDir, "documents")}"
    if (!s.catalog.tableExists(name))
      Dedup.buildContainmentIndex(s, shPath, name)
    (name, shPath)
  }

  /** Once-per-(source data, session) bigram-LM model backing t24b: the
    * (x, y, lp_c6) log-prob table trained on the full documents corpus
    * ([[TextAnalysis.buildLmModel]]) — the train-once half whose probe
    * half is a pure vocab-keyed join.
    */
  private def lmIngest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "lmmodel")
    gatedBuild(fs, dir) {
      TextAnalysis.buildLmModel(table(s, sfDir, "documents"), dir.toString)
    }
    dir.toString
  }

  /** Once-per-(source data, session) DSIR log-ratio model backing t29b
    * ([[TextAnalysis.buildDsirModel]]). */
  private def dsirIngest(s: SparkSession, sfDir: String): String = {
    // "2": the model schema gained the buckets column — the mtime-keyed
    // gate would otherwise serve a pre-schema layout from an older build
    val (dir, fs) = layoutDir(s, sfDir, "documents", "dsirmodel2")
    gatedBuild(fs, dir) {
      TextAnalysis.buildDsirModel(table(s, sfDir, "documents"), dir.toString)
    }
    dir.toString
  }

  /** Once-per-(source data, session) BPE merge model backing t33/t34
    * ([[TextAnalysis.buildBpeModel]], numMerges = [[BpeNumMerges]]).
    */
  private def bpeIngest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "bpemodel")
    gatedBuild(fs, dir) {
      TextAnalysis.buildBpeModel(table(s, sfDir, "documents"), dir.toString,
        numMerges = BpeNumMerges)
    }
    dir.toString
  }

  /** Once-per-(source data, session) 1024-merge chunk-unit BPE model
    * backing t35. The coverage guard is load-bearing: the t35 oracle
    * tokenizes by joining doc chunks to the trained FINAL segmentation
    * state, so a corpus whose distinct units exceeded the training cap
    * would silently drop the uncovered units from the oracle side —
    * fail LOUDLY here instead (the Spark apply expression itself handles
    * uncovered units fine; this is an oracle-comparability bound, not an
    * operator limit).
    */
  private def bpe2Ingest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "bpemodel2")
    gatedBuild(fs, dir) {
      val docs = table(s, sfDir, "documents")
      val nUnits = docs.select(explode(
        TextAnalysis.bpeUnits(col("text"), Bpe2ChunkWords)).as("w"))
        .agg(countDistinct(col("w"))).head().getLong(0)
      require(nUnits <= Bpe2VocabCap,
        s"bpe2Ingest: $nUnits distinct ${Bpe2ChunkWords}-word units exceed " +
          s"the $Bpe2VocabCap training cap — the t35 oracle's final-state " +
          "join would silently drop uncovered units; raise Bpe2VocabCap")
      TextAnalysis.buildBpeModel(docs, dir.toString,
        numMerges = Bpe2NumMerges, vocabCap = Bpe2VocabCap,
        chunkWords = Bpe2ChunkWords)
    }
    dir.toString
  }

  /** t33/t34's committed merge count — the Spark trainer and the
    * unrolled-stage oracle must agree on it. 32 keeps the generated
    * oracle tractable while exercising every recurrence branch
    * (multi-level merges consuming earlier outputs appear well before
    * rank 32 on this corpus).
    */
  private val BpeNumMerges = 32

  /** t35's realistic-vocabulary parameters. The corpus's 31-word
    * vocabulary exhausts WORD-level BPE at ~89 merges (measured — every
    * word fully merged), so the ≥1k-merge demonstration trains on
    * 2-word chunk units ([[TextAnalysis.bpeUnits]]): ≤ 31² + 31 = 992
    * distinct units whose cross-product merge space supports the full
    * 1024 ranks. Training, apply (the same [[graft.functions
    * .BpeEncodeText]] expression t33 exercises at the proven word-level
    * semantics), and the oracle replay are IDENTICAL machinery — only
    * the unit pre-tokenizer and the merge count change.
    */
  private val Bpe2NumMerges = 1024
  private val Bpe2VocabCap = 1024
  private val Bpe2ChunkWords = 2

  /** t36's char-window parameters (r15, closes the r14 "char-mode BPE
    * has no driver-oracle row" gap): units are consecutive
    * [[Bpe3UnitChars]]-character windows of the whitespace-collapsed
    * text with SPACES as ordinary symbols — the production-vocabulary
    * unit mode BPESWEEP_r14 demonstrated at 8k/16k merges — trained to
    * [[Bpe3NumMerges]] ranks, kept modest so the DuckDB recursive-CTE
    * replay (the t35 oracle with char windows as units — the merge
    * recurrence itself is unchanged) stays cheap at the sf0.01 gate.
    * The window width is chosen so the corpus's distinct window count
    * clears [[Bpe3VocabCap]] at the gate SFs (bpe3Ingest guards loudly,
    * the same oracle-comparability bound as bpe2Ingest): measured
    * distinct 6-char windows are 2 928 (sf0.001) / 2 910 (sf0.01) /
    * 3 602 (sf0.1) — wider windows explode past any cap the recursive
    * oracle can replay (w=12 is 56 733 distinct at sf0.1). Width is an
    * oracle-tractability choice, not an operator limit: the SAME apply
    * expression runs the 64-char-window 8k/16k-merge BPESWEEP models.
    */
  private val Bpe3NumMerges = 256
  private val Bpe3VocabCap = 4096
  private val Bpe3UnitChars = 6

  /** Once-per-(source data, session) char-window BPE model backing t36
    * ([[TextAnalysis.buildBpeModel]] with `unitChars`). The coverage
    * guard is the same oracle-comparability bound as [[bpe2Ingest]]:
    * the oracle tokenizes by joining doc windows to the trained FINAL
    * segmentation state, so units past the training cap would silently
    * drop from the oracle side — fail loudly instead.
    */
  private def bpe3Ingest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "bpemodel3")
    gatedBuild(fs, dir) {
      val docs = table(s, sfDir, "documents")
      val nUnits = docs.select(explode(
        TextAnalysis.bpeUnitsChars(col("text"), Bpe3UnitChars)).as("w"))
        .agg(countDistinct(col("w"))).head().getLong(0)
      require(nUnits <= Bpe3VocabCap,
        s"bpe3Ingest: $nUnits distinct $Bpe3UnitChars-char windows exceed " +
          s"the $Bpe3VocabCap training cap — the t36 oracle's final-state " +
          "join would silently drop uncovered units; raise Bpe3VocabCap")
      TextAnalysis.buildBpeModel(docs, dir.toString,
        numMerges = Bpe3NumMerges, vocabCap = Bpe3VocabCap,
        unitChars = Bpe3UnitChars)
    }
    dir.toString
  }

  /** Once-per-(source data, session) BM25 corpus stats backing t23b:
    * term df table + 1-row (N, avgdl) ([[TextAnalysis.buildBm25Stats]]).
    */
  private def bm25Ingest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "bm25stats")
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "stats")))
      TextAnalysis.buildBm25Stats(table(s, sfDir, "documents"), dir.toString)
    dir.toString
  }

  /** Once-per-(source data, session) incremental moment state backing
    * v15: the embeddings ingested in three deterministic slices through
    * [[graft.streaming.StreamMoments.ingestBatch]] — the monoid fold
    * whose result must be bit-identical to the one-shot v11 pass.
    */
  private def momentsIngest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "embeddings", "moments")
    gatedBuild(fs, dir) {
      val emb = table(s, sfDir, "embeddings")
      (0 until 3).foreach { slice =>
        graft.streaming.StreamMoments.ingestBatch(s,
          emb.filter(col("vec_id") % 3 === slice), dir.toString)
      }
    }
    dir.toString
  }

  /** Once-per-(source data, session) cluster-representative relation
    * backing t26: the d8 component resolution (minhashPairs →
    * connectedComponents, min-id representative) materialized to parquet,
    * so the leakage-safe split joins persisted dedup state like any other
    * fact table instead of recomputing corpus LSH + components in-plan —
    * a deduplicating pipeline has this relation on disk already.
    */
  private def repIngest(s: SparkSession, sfDir: String): String = {
    val (dir, fs) = layoutDir(s, sfDir, "documents", "reps")
    gatedBuild(fs, dir) {
      Dedup.connectedComponents(Dedup.minhashPairs(table(s, sfDir, "documents")))
        .select(col("a").as("doc_id"), col("rep_id"))
        .write.parquet(dir.toString)
    }
    dir.toString
  }

  /** Once-per-(source data, session) MATERIALIZED IVF index backing v8:
    * the production ANN shape — cell assignment written
    * `partitionBy(cell_id)` (probes prune whole directories), centroids
    * persisted beside it so the probe path never re-runs k-means. The
    * centroid parquet is written last and gates reuse (a crash mid-build
    * re-ingests instead of serving a partial index).
    */
  /** Centroid persist/read shared by the vector-index ingests — ONE
    * serialization format on purpose: two hand-rolled copies would let
    * a schema/sort change silently diverge the persisted index layouts.
    */
  private def writeCentroids(s: SparkSession,
      cents: Array[(Long, Array[Float])], dir: String): Unit = {
    import s.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readCentroids(s: SparkSession,
      dir: String): Array[(Long, Array[Float])] =
    s.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  private def ivfIngest(s: SparkSession,
      sfDir: String): (String, Array[(Long, Array[Float])]) = {
    // tag carries the build's spill arity AND schema version ("n" =
    // stored norms, r16): a layout left by a session built at a
    // different spill or without the `_n` field must regenerate, not
    // silently serve (a norm-less index still serves correctly through
    // probeJoin's fused fallback, but the tag keeps one session's
    // layouts uniform)
    val (dir, fs) = layoutDir(s, sfDir, "embeddings", "ivf_s2n")
    val cellsDir = new org.apache.hadoop.fs.Path(dir, "cells").toString
    val centDir = new org.apache.hadoop.fs.Path(dir, "centroids").toString
    // gatedBuild, not exists(): a crash mid-write left a partial dir the
    // exists() gate would serve forever (the marker lands after the build)
    gatedBuild(fs, dir) {
      writeCentroids(s, Similarity.buildIvfIndex(
        table(s, sfDir, "embeddings"), cellsDir), centDir)
    }
    (cellsDir, readCentroids(s, centDir))
  }

  /** Once-per-(source data, session) materialized IVFPQ index backing
    * v18: PQ codes partitioned by cell
    * ([[Similarity.buildIvfPqIndex]]), centroids AND codebooks persisted
    * beside the codes so any session serves the same index.
    */
  private def ivfpqIngest(s: SparkSession, sfDir: String):
      (String, Array[(Long, Array[Float])], Array[Array[Array[Float]]]) = {
    import s.implicits._
    // layout key carries the model generation (trained codebooks + raw
    // refine sidecar, r11) — the mtime gate must never serve an index
    // built under the old seed-codebook layout to the new reader
    val (dir, fs) = layoutDir(s, sfDir, "embeddings", "ivfpq_s2_m8_t2")
    val codesDir = new org.apache.hadoop.fs.Path(dir, "index").toString
    val centDir = new org.apache.hadoop.fs.Path(dir, "centroids").toString
    val cbDir = new org.apache.hadoop.fs.Path(dir, "codebooks").toString
    // gatedBuild, not exists(): a crash mid-codebook-write would
    // otherwise serve an empty/partial index forever
    gatedBuild(fs, dir) {
      val (cents, cb) = Similarity.buildIvfPqIndex(
        table(s, sfDir, "embeddings"), codesDir)
      writeCentroids(s, cents, centDir)
      cb.zipWithIndex.flatMap { case (rows, sIdx) =>
        rows.zipWithIndex.map { case (v, j) => (sIdx, j, v.toSeq) }
      }.toSeq.toDF("s", "j", "v")
        .coalesce(1).write.mode("overwrite").parquet(cbDir)
    }
    val cbRows = s.read.parquet(cbDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val cb = Array.tabulate(m)(sIdx =>
      cbRows.filter(_._1 == sIdx).sortBy(_._2).map(_._3))
    (codesDir, readCentroids(s, centDir), cb)
  }

  /** Exact top-5 cosine neighbors — the shared oracle of the brute-force
    * baseline and the full-probe IVF equivalence check.
    */
  /** Exact-fingerprint decontamination — shared oracle of the anti-join
    * (d6) and bloom-prefiltered (d10) forms: the prefilter must not
    * change the answer, so one string keeps the contract in lockstep.
    */
  private def baseDecontaminateOracle: String =
    """WITH fp AS (
      |  SELECT doc_id, source,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      |  FROM documents)
      |SELECT c.doc_id FROM fp c
      |WHERE c.source <> 'src0'
      |  AND NOT EXISTS (SELECT 1 FROM fp b
      |                  WHERE b.source = 'src0' AND b.f = c.f)""".stripMargin

  /** Exhaustive batch×corpus Jaccard pairs — shared oracle of the
    * incremental dedup family (d12 ≡ d15: the indexed path must produce
    * EXACTLY the unindexed pairs; d12s/d15s add the replica-0 batch
    * restriction, a no-op at gate SF where every doc_id < 10M). One body
    * keeps the four must-be-identical contracts in lockstep.
    */
  private def baseIncrementalOracle(replica0Only: Boolean): String = {
    val batchPred =
      if (replica0Only) "b.doc_id % 20 = 0 AND b.doc_id < 10000000"
      else "b.doc_id % 20 = 0"
    s"""WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |      ELSE list_transform(generate_series(1, len(t) - 2),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
      |  FROM tok)
      |SELECT batch_id, corpus_id, jaccard FROM (
      |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
      |    round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
      |      CAST(len(b.s) + len(c.s) - len(list_intersect(b.s, c.s)) AS DOUBLE),
      |      6) AS jaccard
      |  FROM sh b JOIN sh c
      |    ON $batchPred AND c.doc_id % 20 <> 0)
      |WHERE jaccard >= 0.8""".stripMargin
  }

  /** Batch survivors (no ≥0.8 cross-hit) — shared oracle of the
    * unindexed (d13) and indexed (d16) accept gates, identical because
    * d15 ≡ d12 pairs implies an identical anti-join.
    */
  private def baseSurvivorsOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |      ELSE list_transform(generate_series(1, len(t) - 2),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
      |  FROM tok),
      |hits AS (
      |  SELECT DISTINCT b.doc_id AS bid
      |  FROM sh b JOIN sh c ON b.doc_id % 20 = 0 AND c.doc_id % 20 <> 0
      |  WHERE round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
      |      CAST(len(b.s) + len(c.s) - len(list_intersect(b.s, c.s)) AS DOUBLE),
      |      6) >= 0.8)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 20 = 0 AND doc_id NOT IN (SELECT bid FROM hits)""".stripMargin

  /** (lang, source)-bucketed exact Jaccard pairs — shared oracle of
    * d2_ngram_jaccard and the scoped AllPairs twins d21/d21s, which
    * compute d2's exact answer on the same buckets at the gate SF.
    */
  private def baseBucketedJaccardOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, source,
      |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |         CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) AS i,
      |         CAST(len(a.t) AS DOUBLE) AS da, CAST(len(b.t) AS DOUBLE) AS db
      |  FROM tok a JOIN tok b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT a, b, round(i / (da + db - i), 6) AS jaccard
      |FROM pairs WHERE round(i / (da + db - i), 6) >= 0.8""".stripMargin

  /** SQL replay of the ENTIRE product-quantization pipeline (v16):
    * codebook = sub-slices of the first 16 vectors by id; code
    * assignment = argmin of the spelled-out left-associative
    * squared-difference sum (bit-identical to the kernel's element-order
    * Double fold, ties to the smallest code); ADC = per-subspace dot in
    * integer micro-units summed exactly (HUGEINT cast back to BIGINT).
    * The terms are GENERATED here (m=8 subspaces × 8 elements) so oracle
    * and kernel can only drift by changing the shared constants.
    */
  /** CTE chain replaying PQ codebook TRAINING + encoding + ADC scoring,
    * ending in `adc(query_id, neighbor_id, dot_est_micro)`. Codebooks
    * live as (s, j, c1..c8) rows: `cb0` is the first-256-rows-by-id seed
    * ([[Similarity.pqCodebooks]]), and each unrolled Lloyd iteration
    * (`tr{t}d` distances → `tr{t}a` argmin assignment → `tr{t}m`
    * micro-unit sums → `cb{t}` means) mirrors
    * [[Similarity.trainPqCodebooks]] operation for operation: distances
    * are the spelled-out left-associative squared-difference sums (ties
    * to the smallest code), element sums are exact integers
    * (`floor(x·1e6 + 0.5)` summed as BIGINT — order-free), and the new
    * code value replays the one IEEE sequence
    * `(floor(sum/n)/1e6).toFloat` via `CAST(... AS REAL)`. Codes that
    * assign nothing COALESCE to their previous value, exactly as the
    * Scala side keeps them. The terms are GENERATED (m=8 subspaces ×
    * 8 elements × $trainIters iterations) so oracle and kernel can only
    * drift by changing the shared constants.
    */
  private def pqTrainedAdcCTEs: String = {
    // kCodes = 256 (8-bit PQ); at gate SFs with fewer corpus rows both
    // engines take the same min(kCodes, corpus) seed set — LIMIT under-
    // selects identically on both sides
    val sub = 8; val m = 8; val kCodes = 256
    val seedCols = (1 to sub).map(i => s"b.v[t.s*$sub+$i] AS c$i")
      .mkString(", ")
    def distTerms(cb: String) = (1 to sub).map(i =>
      s"(a.v[$cb.s*$sub+$i]-$cb.c$i)*(a.v[$cb.s*$sub+$i]-$cb.c$i)")
      .mkString(" + ")
    val sumCols = (1 to sub).map(i =>
      s"SUM(CAST(floor(a.v[x.s*$sub+$i]*1000000.0 + 0.5) AS BIGINT)) AS s$i")
      .mkString(", ")
    val meanCols = (1 to sub).map(i =>
      s"COALESCE(CAST(CAST(floor(CAST(mm.s$i AS DOUBLE) / mm.n) / " +
        s"1000000.0 AS REAL) AS DOUBLE), p.c$i) AS c$i").mkString(", ")
    val iterCTEs = (1 to PqTrainIters).map { t =>
      s"""tr${t}d AS (
         |  SELECT a.vec_id, cb.s, cb.j, ${distTerms("cb")} AS d
         |  FROM v a, cb${t - 1} cb),
         |tr${t}a AS (
         |  SELECT vec_id, s, j FROM (
         |    SELECT vec_id, s, j,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
         |    FROM tr${t}d) WHERE rn = 1),
         |tr${t}m AS (
         |  SELECT x.s, x.j, $sumCols, COUNT(*) AS n
         |  FROM tr${t}a x JOIN v a USING (vec_id) GROUP BY x.s, x.j),
         |cb$t AS (
         |  SELECT p.s, p.j, $meanCols
         |  FROM cb${t - 1} p LEFT JOIN tr${t}m mm
         |    ON mm.s = p.s AND mm.j = p.j)""".stripMargin
    }.mkString(",\n")
    val cbN = s"cb$PqTrainIters"
    val dotTerms = (1 to sub).map(i => s"q.v[cb.s*$sub+$i]*cb.c$i")
      .mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb0 AS (
       |  SELECT t.s AS s, b.j AS j, $seedCols
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       |        FROM (SELECT vec_id, v FROM v ORDER BY vec_id
       |              LIMIT $kCodes)) b,
       |       generate_series(0, ${m - 1}) t(s)),
       |$iterCTEs,
       |dist AS (
       |  SELECT a.vec_id, cb.s, cb.j, ${distTerms("cb")} AS d
       |  FROM v a, $cbN cb),
       |codes AS (
       |  SELECT vec_id, s, j FROM (
       |    SELECT vec_id, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
       |    FROM dist) WHERE rn = 1),
       |part AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(floor(1000000.0 * ($dotTerms)) AS BIGINT) AS pm
       |  FROM codes c JOIN $cbN cb ON cb.s = c.s AND cb.j = c.j,
       |       (SELECT * FROM v WHERE vec_id < 20) q
       |  WHERE c.vec_id <> q.vec_id),
       |adc AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(pm) AS BIGINT) AS dot_est_micro
       |  FROM part GROUP BY query_id, neighbor_id)""".stripMargin
  }

  /** v16: trained-codebook ADC ranking, exact in integer micro-units. */
  private def pqOracle: String =
    s"""$pqTrainedAdcCTEs
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       |       dot_est_micro
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY dot_est_micro DESC, neighbor_id) AS rank FROM adc)
       |WHERE rank <= $PqTopK""".stripMargin

  /** v17b/v18: the full IVFPQ+refine chain under full probe — ADC
    * shortlist of k·[[PqRerank]], then exact re-rank with the same
    * 6dp-rounded `list_dot_product` contract v10 hash-checks.
    */
  private def pqRerankOracle: String =
    s"""$pqTrainedAdcCTEs,
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot_est_micro DESC, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= ${PqTopK * PqRerank}),
       |ex AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    round(list_dot_product(q.v, c.v), 6) AS dot
       |  FROM short sh
       |  JOIN v c ON c.vec_id = sh.neighbor_id
       |  JOIN v q ON q.vec_id = sh.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, dot
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY dot DESC, neighbor_id) AS rank FROM ex)
       |WHERE rank <= $PqTopK""".stripMargin

  /** Shared constants of the v16-family Spark registrations and their
    * generated oracles — one definition, zero drift. */
  private val PqTrainIters = 2
  private val PqRerank = 24
  private val PqTopK = 5

  /** CTE chain ending in `r(doc_id, reason)` — the quality-heuristic
    * reasons shared by the t10 filter and the t31 gate decision (one
    * string: the reason rules must stay in lockstep).
    */
  private def baseQualityReasonOracle: String =
    """WITH x AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, len(t) AS n,
      |    CAST(len(list_filter(t, tk -> tk IN
      |      ('the','a','an','and','of','to','in','is','it','for')))
      |      AS DOUBLE) / len(t) AS sr,
      |    1.0 - CAST(len(list_distinct(list_transform(
      |      generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE) / (len(t) - 1) AS dr
      |  FROM x),
      |r AS (
      |  SELECT doc_id,
      |    CASE WHEN n < 20 THEN 'too_short'
      |         WHEN sr < 0.02 THEN 'no_stopwords'
      |         WHEN dr > 0.08 THEN 'repetitive'
      |         ELSE 'ok' END AS reason
      |  FROM s)""".stripMargin

  /** The full curation-gate DECISION (t31): quality heuristics, then
    * bigram-LM score, then DSIR target affinity — the same precedence
    * [[graft.streaming.StreamScore.gateScoresDsir]] applies, with every
    * stage's oracle reused as a subquery so the composed decision can
    * only drift from its parts by changing the shared strings.
    */
  private def curationDecisionOracle: String =
    s"""SELECT d.doc_id,
       |  CASE WHEN q.reason <> 'ok' THEN q.reason
       |       WHEN lmr.lm_c6 IS NULL THEN 'oov'
       |       WHEN lmr.lm_c6 < $CurationMinLmC6 THEN 'low_lm'
       |       WHEN w.dsir_c6 IS NULL OR w.dsir_c6 < $CurationMinDsirC6
       |         THEN 'off_target'
       |       ELSE 'accepted' END AS decision
       |FROM documents d
       |LEFT JOIN ($baseQualityReasonOracle
       |           SELECT doc_id, reason FROM r) q ON q.doc_id = d.doc_id
       |LEFT JOIN ($baseLmOracle) lmr ON lmr.doc_id = d.doc_id
       |LEFT JOIN ($baseDsirOracle) w ON w.doc_id = d.doc_id""".stripMargin

  /** t31's fixed gate thresholds — ~p25 of lm_c6 resp. ~median dsir_c6
    * on the gate-SF corpus, so every branch fires under the oracle.
    * Shared constants: the Spark registration and the oracle must agree.
    */
  private val CurationMinLmC6 = -3400000L
  private val CurationMinDsirC6 = -8000000L

  /** The CALIBRATED gate decision (t32): replays
    * [[graft.streaming.StreamScore.calibrateGate]]'s explicit rank rule —
    * threshold = the ceil(0.5·n)-th smallest non-null score over the
    * doc_id % 4 = 0 calibration slice, per side — as a `row_number`
    * window over the SAME stage oracles t31 composes, then the decision
    * CASE with the derived thresholds. Per-doc LM/DSIR scores depend
    * only on (doc, model), so scoring the slice inside the full-corpus
    * oracle equals scoring it as its own batch.
    */
  private def calibratedGateOracle: String = {
    def disc(inner: String, c: String): String =
      s"""SELECT $c FROM (
         |  SELECT $c, row_number() OVER (ORDER BY $c) AS rn,
         |         count(*) OVER () AS n
         |  FROM ($inner) sl WHERE sl.doc_id % 4 = 0) rk
         |WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)""".stripMargin
    val lmTh = disc(baseLmOracle, "lm_c6")
    val dsTh = disc(baseDsirOracle, "dsir_c6")
    s"""SELECT d.doc_id,
       |  ($lmTh) AS min_lm_c6,
       |  ($dsTh) AS min_dsir_c6,
       |  CASE WHEN q.reason <> 'ok' THEN q.reason
       |       WHEN lmr.lm_c6 IS NULL THEN 'oov'
       |       WHEN lmr.lm_c6 < ($lmTh) THEN 'low_lm'
       |       WHEN w.dsir_c6 IS NULL OR w.dsir_c6 < ($dsTh)
       |         THEN 'off_target'
       |       ELSE 'accepted' END AS decision
       |FROM documents d
       |LEFT JOIN ($baseQualityReasonOracle
       |           SELECT doc_id, reason FROM r) q ON q.doc_id = d.doc_id
       |LEFT JOIN ($baseLmOracle) lmr ON lmr.doc_id = d.doc_id
       |LEFT JOIN ($baseDsirOracle) w ON w.doc_id = d.doc_id""".stripMargin
  }

  /** Shared CTE chain of the DSIR oracles: md5-hash-bucketed
    * unigram+bigram features, add-1-smoothed target/raw distributions,
    * micro-unit log-ratios. The only float ops are one
    * divide/ln/multiply per DISTINCT bucket on identical integer inputs
    * (each factor cast to double BEFORE the multiply, mirroring the
    * Spark side — integer products would overflow BIGINT at scale).
    */
  private def dsirCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |         string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, lang, unnest(t) AS g FROM tok
      |  UNION ALL
      |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g
      |  FROM (SELECT doc_id, lang, t,
      |          unnest(generate_series(1, len(t) - 1)) AS i
      |        FROM tok)),
      |db AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b,
      |    count(*) AS n
      |  FROM grams GROUP BY 1, 2, 3),
      |raw AS (SELECT b, sum(n) AS cr FROM db GROUP BY 1),
      |tgt AS (SELECT b, sum(n) AS ct FROM db WHERE lang = 'en'
      |        GROUP BY 1),
      |tot AS (SELECT (SELECT sum(cr) FROM raw) AS r,
      |               (SELECT sum(ct) FROM tgt) AS t),
      |lr AS (
      |  SELECT raw.b,
      |    CAST(floor(1000000.0 * ln(
      |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(r + 4096 AS DOUBLE))
      |      / (CAST(cr + 1 AS DOUBLE) * CAST(t + 4096 AS DOUBLE))))
      |      AS BIGINT) AS lr_c6
      |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot),
      |sc AS (
      |  SELECT db.doc_id,
      |    CAST(sum(db.n * lr.lr_c6) AS BIGINT) AS dsir_c6,
      |    CAST(sum(db.n) AS BIGINT) AS n_feats
      |  FROM db JOIN lr ON lr.b = db.b
      |  GROUP BY 1)
      |""".stripMargin

  /** Per-doc DSIR weights — shared oracle of the in-plan (t29) and
    * prebuilt-model (t29b) forms, which are computationally identical.
    */
  private def baseDsirOracle: String =
    dsirCtes + "SELECT doc_id, dsir_c6, n_feats FROM sc"

  /** The t29 weights piped through the md5-uniform rejection sampler:
    * keep iff floor(1e6·ln((h+1)/2^32)) ≤ dsir_c6 − max(dsir_c6).
    */
  private def dsirResampleOracle: String =
    dsirCtes +
      """SELECT doc_id, dsir_c6, n_feats
        |FROM sc CROSS JOIN (SELECT max(dsir_c6) AS mx FROM sc) m
        |WHERE CAST(floor(1000000.0 * ln(
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) + 1) / 4294967296.0)) AS BIGINT)
        |  <= dsir_c6 - mx""".stripMargin

  /** Brute-force MIPS top-5 — shared oracle of v10 and the full-probe
    * augmented IVF v10b, which must rank identically.
    */
  private def baseMipsOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |      FROM embeddings),
      |s AS (
      |  SELECT query_id, neighbor_id,
      |         round(list_dot_product(qv, cv), 6) AS dot
      |  FROM c, q WHERE neighbor_id <> query_id)
      |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, dot
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
      |      FROM s)
      |WHERE rank <= 5""".stripMargin

  /** BM25 top-3 terms per doc — shared oracle of the in-plan (t23) and
    * prebuilt-stats (t23b) forms, which are computationally identical.
    */
  private def baseBm25Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, dl, tk AS term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tk FROM tok)
      |  GROUP BY doc_id, dl, tk),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |          FROM tf GROUP BY term),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(len(t)) AS avgdl
      |          FROM tok),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(((nd + 1.0) / (df + 1.0)) *
      |      ((tf * (1.2 + 1.0)) /
      |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
      |  FROM tf JOIN dfreq USING (term), stats)
      |SELECT doc_id, term, bm25, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY bm25 DESC, term) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** Bigram-LM mean log-prob per doc — shared oracle of the in-plan
    * (t24) and prebuilt-model (t24b) forms. Per-bigram log-probs
    * quantize to micro-units BEFORE the per-doc mean, so every aggregate
    * is exact integer arithmetic; the only float ops are one
    * correctly-rounded divide/ln/multiply per DISTINCT bigram on
    * identical integer inputs in both engines.
    */
  private def baseLmOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents
      |  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
      |st AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |  FROM tok),
      |db AS (
      |  SELECT doc_id, t[i] AS x, t[i + 1] AS y, count(*) AS n
      |  FROM st GROUP BY 1, 2, 3),
      |bi AS (SELECT x, y, sum(n) AS c12 FROM db GROUP BY 1, 2),
      |lft AS (SELECT x, sum(c12) AS c1 FROM bi GROUP BY 1),
      |voc AS (SELECT count(DISTINCT y) AS v FROM bi),
      |lp AS (
      |  SELECT b.x, b.y,
      |    CAST(floor(1000000.0 * ln(CAST(b.c12 + 1 AS DOUBLE)
      |      / CAST(l.c1 + voc.v AS DOUBLE))) AS BIGINT) AS lp_c6
      |  FROM bi b JOIN lft l ON l.x = b.x CROSS JOIN voc)
      |SELECT d.doc_id,
      |  CAST(floor(CAST(sum(d.n * p.lp_c6) AS DOUBLE)
      |    / CAST(sum(d.n) AS DOUBLE)) AS BIGINT) AS lm_c6,
      |  CAST(sum(d.n) AS BIGINT) AS n_bigrams
      |FROM db d JOIN lp p ON p.x = d.x AND p.y = d.y
      |GROUP BY 1""".stripMargin

  /** Shared CTE chain of the BPE oracles (t33/t34): replays the TRAINING
    * recurrence as [[BpeNumMerges]] unrolled stages (the fixed iteration
    * count is what makes Lloyd-style training SQL-expressible — the v16
    * trick), then maps every doc's words through the final vocabulary
    * segmentation. Stage k: count adjacent symbol pairs weighted by word
    * frequency over v{k-1}, pick the max (ties (l, r) ascending), apply
    * it with plain `replace` over the sentinel-delimited segmentation —
    * byte-identical semantics to the Spark trainer's fold. The LEFT JOIN
    * ON TRUE keeps vocab intact if the vocabulary exhausts early (the
    * Spark trainer stops; the oracle's remaining stages no-op).
    *
    * Every chain CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs,
    * and v_k references v_{k-1} twice (directly and via b_k → p_k), so
    * an un-materialized 32-stage chain inlines 2^32 copies of the
    * documents scan — the query dies on file handles before it dies on
    * CPU. Materialization makes the replay cost what the recurrence
    * costs: 32 linear passes over the distinct-word table.
    */
  private def bpeCtes(recursive: Boolean): String = {
    val d1 = "chr(1)"
    val d2 = "chr(2)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${if (recursive) "RECURSIVE " else ""}tokw AS MATERIALIZED (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents),
         |words AS MATERIALIZED (
         |  SELECT w, count(*) AS freq FROM tokw WHERE length(w) > 0
         |  GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT w, freq,
         |    array_to_string(list_transform(generate_series(1, length(w)),
         |      i -> $d1 || w[i] || $d2), '') AS seg
         |  FROM words),
         |""".stripMargin)
    for (k <- 1 to BpeNumMerges) {
      sb.append(
        s"""p$k AS MATERIALIZED (
           |  SELECT syms[j] AS l, syms[j + 1] AS r, sum(freq) AS c
           |  FROM (
           |    SELECT freq, syms,
           |      unnest(generate_series(1, len(syms) - 1)) AS j
           |    FROM (SELECT freq, string_split(trim(seg, $d1 || $d2),
           |            $d2 || $d1) AS syms FROM v${k - 1}))
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (
           |  SELECT l, r FROM p$k ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           |v$k AS MATERIALIZED (
           |  SELECT w, freq,
           |    CASE WHEN b.l IS NULL THEN seg
           |         ELSE replace(seg, $d1 || b.l || $d2 || $d1 || b.r || $d2,
           |                      $d1 || b.l || b.r || $d2) END AS seg
           |  FROM v${k - 1} LEFT JOIN b$k b ON TRUE),
           |""".stripMargin)
    }
    val unions = (1 to BpeNumMerges)
      .map(k => s"SELECT ${k - 1} AS rank, l, r FROM b$k")
      .mkString("\n  UNION ALL ")
    sb.append(
      s"""mrg AS MATERIALIZED (
         |  $unions),
         |alpha AS MATERIALIZED (
         |  SELECT c, row_number() OVER (ORDER BY c) - 1 AS id FROM (
         |    SELECT DISTINCT w[i] AS c FROM (
         |      SELECT w, unnest(generate_series(1, length(w))) AS i
         |      FROM words))),
         |na AS (SELECT count(*) AS a FROM alpha),
         |vocab AS MATERIALIZED (
         |  SELECT symbol, min(id) AS id FROM (
         |    SELECT c AS symbol, id FROM alpha
         |    UNION ALL
         |    SELECT l || r AS symbol, a + rank AS id FROM mrg CROSS JOIN na)
         |  GROUP BY 1),
         |dpos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+')
         |          AS t FROM documents)),
         |dtok AS (SELECT doc_id, i, t[i] AS w FROM dpos
         |         WHERE length(t[i]) > 0),
         |dseg AS MATERIALIZED (
         |  SELECT d.doc_id, d.i,
         |    string_split(trim(v.seg, $d1 || $d2), $d2 || $d1) AS syms
         |  FROM dtok d JOIN v$BpeNumMerges v ON v.w = d.w),
         |""".stripMargin)
    sb.toString
  }

  /** t33: the tokenization replay — ordered flatten of per-word
    * segmentations, ids via the vocab table (-1 = apply-time-only
    * symbol, impossible here since the model trains on the same corpus,
    * but the branch is the operator's contract).
    */
  private def bpeTokenizeOracle: String =
    bpeCtes(recursive = false) +
      """dflat AS (
        |  SELECT doc_id, flatten(list(syms ORDER BY i)) AS tokens
        |  FROM dseg GROUP BY 1),
        |tid AS (
        |  SELECT doc_id, i2, COALESCE(vc.id, -1) AS tid
        |  FROM (SELECT doc_id, tokens,
        |          unnest(generate_series(1, len(tokens))) AS i2
        |        FROM dflat) e
        |  LEFT JOIN vocab vc ON vc.symbol = e.tokens[i2]),
        |tids AS (SELECT doc_id, list(tid ORDER BY i2) AS token_ids
        |         FROM tid GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(array_to_string(f.tokens, ' '), '') AS tokens,
        |  COALESCE(array_to_string(t.token_ids, ','), '') AS token_ids,
        |  CAST(COALESCE(len(f.tokens), 0) AS BIGINT) AS n_tokens_bpe
        |FROM documents d
        |LEFT JOIN dflat f ON f.doc_id = d.doc_id
        |LEFT JOIN tids t ON t.doc_id = d.doc_id""".stripMargin

  /** t35: the ≥1k-merge replay. Unlike [[bpeCtes]]'s unrolled chain
    * (32 fixed stages), the TRAINING recurrence here is ONE recursive
    * CTE whose working table is the whole (unit, freq, seg) vocabulary
    * plus the round's chosen pair: each step explodes every unit's
    * adjacent symbol pairs (LEFT JOIN LATERAL keeps pairless units),
    * computes per-pair counts with `sum(freq) OVER (PARTITION BY l, r)`,
    * picks the global argmax via `min(struct(-c, l, r)) OVER ()` (= count
    * desc, l asc, r asc — the trainer's tie-break), applies it with
    * plain `replace`, and collapses back to one row per unit. SQL size
    * is CONSTANT in the merge count — the property that makes a 1024-
    * (or 30k-) rank replay expressible at all. The merge table for
    * vocab-id replay falls out of the recursion's history: round k's
    * rows carry the pair applied at step k (rank k − 1).
    *
    * Units are [[Bpe2ChunkWords]]-word chunks capped at the top
    * [[Bpe2VocabCap]] by (freq desc, unit asc) — no cap bite at the gate
    * SFs (≤ 992 distinct; bpe2Ingest guards loudly), so the final-state
    * tokenization join covers every doc chunk.
    */
  private def bpeScaledOracle: String =
    bpeRecursiveOracle(
      s"""SELECT doc_id, grp, string_agg(t, ' ' ORDER BY i) AS w
         |  FROM (
         |    SELECT doc_id, t, i,
         |      CAST(ceil(i / ${Bpe2ChunkWords}.0) AS INTEGER) AS grp FROM (
         |      SELECT doc_id, unnest(ts) AS t,
         |        unnest(generate_series(1, len(ts))) AS i
         |      FROM (SELECT doc_id, list_filter(
         |          string_split_regex(lower(trim(text)), '\\s+'),
         |          x -> length(x) > 0) AS ts FROM documents)))
         |  GROUP BY doc_id, grp""".stripMargin,
      Bpe2NumMerges, Bpe2VocabCap)

  /** t36: the char-window replay — the SAME recursive-CTE training
    * recurrence as t35 ([[bpeRecursiveOracle]]), with units =
    * consecutive [[Bpe3UnitChars]]-character windows of the
    * whitespace-collapsed lowercased text, spaces as ordinary symbols
    * (exactly [[TextAnalysis.bpeUnitsChars]]' normalization: lower →
    * collapse runs to single spaces → trim → fixed-width substr). Only
    * the unit pre-tokenizer differs; the merge recurrence, vocab-id
    * assignment, and tokenization join are shared SQL.
    */
  private def bpeCharsOracle: String =
    bpeRecursiveOracle(
      s"""SELECT doc_id, grp,
         |    substr(norm, (grp - 1) * $Bpe3UnitChars + 1, $Bpe3UnitChars) AS w
         |  FROM (
         |    SELECT doc_id, norm,
         |      unnest(generate_series(1, CAST(ceil(length(norm) /
         |        ${Bpe3UnitChars}.0) AS INTEGER))) AS grp
         |    FROM (SELECT doc_id,
         |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |      FROM documents))""".stripMargin,
      Bpe3NumMerges, Bpe3VocabCap)

  /** The shared ≥1k-merge BPE replay (t35/t36): `unitsCte` yields
    * `(doc_id, grp, w)` — every document's ordered units — and the rest
    * is the constant-size recursive training recurrence, vocab-id
    * table, and final-state tokenization join described in
    * [[bpeScaledOracle]]'s writeup above.
    */
  private def bpeRecursiveOracle(unitsCte: String, numMerges: Int,
      vocabCap: Int): String = {
    val d1 = "chr(1)"
    val d2 = "chr(2)"
    s"""WITH RECURSIVE dchunk AS MATERIALIZED (
       |  $unitsCte),
       |chunks AS MATERIALIZED (
       |  SELECT w, count(*) AS freq FROM dchunk GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT w, freq,
       |    array_to_string(list_transform(generate_series(1, length(w)),
       |      i -> $d1 || w[i] || $d2), '') AS seg
       |  FROM (SELECT w, freq FROM chunks
       |        ORDER BY freq DESC, w ASC LIMIT $vocabCap)),
       |tr AS (
       |  SELECT 0 AS k, w, freq, seg,
       |    CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br
       |  FROM v0
       |  UNION ALL
       |  SELECT k + 1, w, freq,
       |    CASE WHEN best IS NULL THEN seg
       |         ELSE replace(seg, $d1 || best.l || $d2 || $d1 || best.r || $d2,
       |                      $d1 || best.l || best.r || $d2) END AS seg,
       |    best.l AS bl, best.r AS br
       |  FROM (
       |    SELECT k, w, freq, seg,
       |      min(CASE WHEN c IS NULL THEN NULL
       |          ELSE struct_pack(nc := -c, l := l, r := r) END) OVER () AS best
       |    FROM (
       |      SELECT t.k, t.w, t.freq, t.seg, p.l, p.r,
       |        CASE WHEN p.l IS NULL THEN NULL
       |             ELSE sum(t.freq) OVER (PARTITION BY p.l, p.r) END AS c
       |      FROM tr t LEFT JOIN LATERAL (
       |        SELECT syms[j] AS l, syms[j + 1] AS r
       |        FROM (SELECT string_split(trim(t.seg, $d1 || $d2),
       |                $d2 || $d1) AS syms),
       |          LATERAL unnest(generate_series(1, len(syms) - 1)) AS g(j)
       |        WHERE len(syms) >= 2) p ON TRUE))
       |  GROUP BY k, w, freq, seg, best
       |  HAVING k < $numMerges),
       |mrg AS MATERIALIZED (
       |  SELECT k - 1 AS rank, bl AS l, br AS r
       |  FROM (SELECT DISTINCT k, bl, br FROM tr WHERE bl IS NOT NULL)),
       |alpha AS MATERIALIZED (
       |  SELECT c, row_number() OVER (ORDER BY c) - 1 AS id FROM (
       |    SELECT DISTINCT w[i] AS c FROM (
       |      SELECT w, unnest(generate_series(1, length(w))) AS i
       |      FROM chunks))),
       |na AS (SELECT count(*) AS a FROM alpha),
       |vocab AS MATERIALIZED (
       |  SELECT symbol, min(id) AS id FROM (
       |    SELECT c AS symbol, id FROM alpha
       |    UNION ALL
       |    SELECT l || r AS symbol, a + rank AS id FROM mrg CROSS JOIN na)
       |  GROUP BY 1),
       |fin AS MATERIALIZED (
       |  SELECT w, seg FROM tr WHERE k = $numMerges),
       |dseg AS MATERIALIZED (
       |  SELECT d.doc_id, d.grp AS i,
       |    string_split(trim(f.seg, $d1 || $d2), $d2 || $d1) AS syms
       |  FROM dchunk d JOIN fin f ON f.w = d.w),
       |dflat AS (
       |  SELECT doc_id, flatten(list(syms ORDER BY i)) AS tokens
       |  FROM dseg GROUP BY 1),
       |tid AS (
       |  SELECT doc_id, i2, COALESCE(vc.id, -1) AS tid
       |  FROM (SELECT doc_id, tokens,
       |          unnest(generate_series(1, len(tokens))) AS i2
       |        FROM dflat) e
       |  LEFT JOIN vocab vc ON vc.symbol = e.tokens[i2]),
       |tids AS (SELECT doc_id, list(tid ORDER BY i2) AS token_ids
       |         FROM tid GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(array_to_string(f.tokens, ' '), '') AS tokens,
       |  COALESCE(array_to_string(t.token_ids, ','), '') AS token_ids,
       |  CAST(COALESCE(len(f.tokens), 0) AS BIGINT) AS n_tokens_bpe
       |FROM documents d
       |LEFT JOIN dflat f ON f.doc_id = d.doc_id
       |LEFT JOIN tids t ON t.doc_id = d.doc_id""".stripMargin
  }

  /** t34: the t28 greedy-pack recursion priced by the BPE replay's
    * per-doc subword counts (budget 2048).
    */
  private def bpePackOracle: String =
    bpeCtes(recursive = true) +
      """dcnt AS (
        |  SELECT doc_id, CAST(sum(len(syms)) AS INTEGER) AS n_tokens
        |  FROM dseg GROUP BY 1),
        |tokc AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 4 AS INTEGER) AS shard,
        |    CAST(COALESCE(c.n_tokens, 0) AS INTEGER) AS n_tokens
        |  FROM documents d LEFT JOIN dcnt c ON c.doc_id = d.doc_id),
        |ord AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source, shard ORDER BY doc_id) AS rn
        |  FROM tokc),
        |pack AS (
        |  SELECT doc_id, source, shard, n_tokens, rn,
        |    0 AS pack_seq, 2048 - n_tokens AS rem
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.source, o.shard, o.n_tokens, o.rn,
        |    CASE WHEN o.n_tokens > p.rem THEN p.pack_seq + 1
        |         ELSE p.pack_seq END,
        |    CASE WHEN o.n_tokens > p.rem THEN 2048 - o.n_tokens
        |         ELSE p.rem - o.n_tokens END
        |  FROM ord o
        |  JOIN pack p ON o.source = p.source AND o.shard = p.shard
        |    AND o.rn = p.rn + 1)
        |SELECT doc_id, source, shard, n_tokens,
        |  CAST(pack_seq AS INTEGER) AS pack_seq
        |FROM pack""".stripMargin

  private def baseCovOracle: String =
    """WITH comp AS (
      |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS q
      |  FROM embeddings, generate_series(1, 64) AS g(i)),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      |s AS (SELECT i, CAST(sum(q) AS BIGINT) AS sq FROM comp GROUP BY i),
      |gm AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gq
      |       FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
      |       GROUP BY a.i, b.i)
      |SELECT gm.i, gm.j, nn.n,
      |  round((CAST(gq AS DOUBLE)
      |      - CAST(sa.sq AS DOUBLE) * CAST(sb.sq AS DOUBLE) / nn.n)
      |    / (nn.n - 1) / 1000000.0, 6) AS cov
      |FROM gm CROSS JOIN nn
      |JOIN s sa ON sa.i = gm.i
      |JOIN s sb ON sb.i = gm.j""".stripMargin

  /** Shared replay fragments for the brute/int8 retrieval oracles. One
    * definition each for the DOUBLE[] cast, the exact cosine ranking, and
    * the symmetric-int8 requantized ranking — baseV1Oracle (ridden by
    * v1/v2b/v8/v13b), the v6 oracle, and the v19 metrics replay all
    * compose these, so a change to the rounding/tie-break/quantization
    * contract has exactly one edit site. DuckDB evaluates only the CTEs a
    * query references, so composing an unused chain costs nothing.
    */
  private def vecCTE: String =
    """xv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""
      .stripMargin

  /** Exact cosine top-5 over [[vecCTE]] → `xt(query_id, neighbor_id,
    * rank, cosine)`.
    */
  private def exactRankCTEs: String =
    """xq AS (SELECT vec_id AS query_id, v AS qv FROM xv WHERE vec_id < 20),
      |xs AS (
      |  SELECT query_id, xv.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qv, xv.v), 6) AS cosine
      |  FROM xv, xq WHERE xv.vec_id <> query_id),
      |xt AS (
      |  SELECT query_id, neighbor_id, rank, cosine FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM xs)
      |  WHERE rank <= 5)""".stripMargin

  /** Symmetric-int8 requantization of [[vecCTE]] + cosine top-5 over the
    * quantized vectors → `axt(query_id, neighbor_id, rank, cosine)`.
    */
  private def int8RankCTEs: String =
    """sc AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM xv),
      |qz AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
      |      ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS qv
      |  FROM sc),
      |aq AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 20),
      |axs AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(aq.qv, c.qv), 6) AS cosine
      |  FROM qz c, aq WHERE c.vec_id <> query_id),
      |axt AS (
      |  SELECT query_id, neighbor_id, rank, cosine FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM axs)
      |  WHERE rank <= 5)""".stripMargin

  private def baseV1Oracle: String =
    s"""WITH $vecCTE,
       |$exactRankCTEs
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
       |FROM xt""".stripMargin
}
