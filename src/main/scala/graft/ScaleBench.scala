package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale benchmark: replicate the sf0.1 driver data N× with key remapping
  * (default 10× ≈ sf1) and time a headline query subset in a
  * compute-dominated regime. The per-query sf0.1 numbers are
  * scheduling-noise-dominated (±50% run-to-run on identical binaries —
  * round-5 verdict, Performance), so cross-round plan comparisons need a
  * run where work, not task dispatch, is the cost.
  *
  * Replication follows TPC-H scaling semantics: fact/satellite tables
  * (customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) replicate with every key column offset by replica×stride so
  * FK joins stay 1:1; the fixed dims nation/region copy as-is (they are
  * constant-size at every TPC-H SF, which is also what keeps them
  * broadcastable at 100 TB).
  *
  * Excluded from the headline set, deliberately:
  *  - pair-regime text/embedding dedup (d2–d5, d8/d9, d11–d13, d17, v7b):
  *    (d17/d18 additionally: replication multiplies every shingle's
  *    corpus df by N, so the rare-shingle (df ≤ maxDf) candidate set
  *    COLLAPSES instead of scaling — a changed regime, not a bigger one)
  *    replicating documents makes every doc an exact N-way duplicate, so
  *    those queries change OUTPUT REGIME (pair blowup) instead of scaling
  *    input — their scale story is the plan-shape + SCALE.md analysis.
  *    Exception: d12's continuous-ingest shape IS swept, via
  *    d12_incremental_scale, whose batch is pinned to replica-0 keys so
  *    only the corpus side replicates (linear input, linear output);
  *  - session-stamped layout ingests (x7/x9/x10/x11) and the tiny
  *    tutorial fixtures (s-/ksql rows), which measure setup, not
  *    throughput;
  *  - retrieval-metric/selection twins whose cost is their upstream
  *    retrievers, already swept (v19 = v1+v6; v20 = v12's shape);
  *  - media synthesis (m1–m3), whose cost is the synthetic byte generator.
  *
  * [[Profile]] times the rows on the replicated directory; one name
  * alone is its fresh-JVM isolated timing.
  *
  * Usage: SPARK_GRAFT_SCALE_DIR=/tmp/graft_sfscale SPARK_GRAFT_REPLICAS=10
  *        sbt "runMain graft.ScaleBench [query ...]"   (Headline by default)
  * Also reads SPARK_GRAFT_SF_DIR (the source), SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_RUNS; prints the Profile line, `sf` the scaled directory.
  */
object ScaleBench {

  private[graft] val Stride = 10000000L

  /** Key columns offset per replica — PK and FK get the same stride so
    * join cardinalities scale linearly, never quadratically.
    */
  private val ScaledKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private[graft] val Headline: Seq[String] = Seq(
    // aggregation / shuffle shapes
    "a1_count_group", "a5_multi_group", "a7_percentiles", "a8_topk_per_group",
    "a9_rollup", "a11_heavy_hitters", "a16_count_min", "a17_numeric_profile",
    // joins / projections / rekey
    "j1_inner_join", "j2_left_join_count", "k1_composite_key",
    "p5_case_when", "p6_cast_divide", "s4_rekey",
    // relational analytics
    "x1_star_join", "x2_parts_by_brand", "x3_asof_join", "x5_running_sum",
    "x6_salted_join", "x8_window_analytics",
    // event analytics
    "e1_sessionize", "e2_tumbling_window", "e3_hopping_window", "e4_funnel",
    "e5_cohort_retention",
    // vector
    "v1_brute_cosine_topk", "v2_ivf_cosine_topk", "v2b_ivf_full_probe",
    "v3_label_centroid", "v5_int8_quantize", "v6_int8_topk",
    "v16_pq_topk", "v17_ivfpq_topk", "v7_knn_graph",
    // the celled kNN core measured on ALL-DISTINCT data (r13 Next #2):
    // replication makes every vector an exact N-way duplicate, so the
    // committed v7 row measures the duplicate-collapse wrapper while the
    // core sees a CONSTANT distinct set; this row salts each replica
    // vector by id-seeded per-component jitter (every copy distinct —
    // the StreamBench text-salting idea applied to vectors), so the
    // wrapper is an identity and the core's own growth is what's timed
    "v7_knn_graph_salted",
    "v8_ivf_indexed", "v18_ivfpq_indexed", "v9_random_projection",
    // one-pass corpus statistics: v11 is the gram/covariance reduction
    // (O(dim²) partials per task, single merge exchange); v12 is a
    // label-bounded centroid agg + broadcast join back
    "v11_covariance", "v12_centroid_affinity",
    // PCA consumers: v13 is the two-pass shortlist+re-rank retrieval
    // (covariance pass + narrow projection folds), v14 the zero-shuffle
    // residual-energy outlier scan; their full-rank twins are
    // gate-SF-only exactness checks, not scale rows
    "v13_pca_topk", "v14_pca_outlier",
    // text (single-pass / bounded-join operators)
    "t1_token_counts", "t2_quality_score", "t3_lang_id", "t8_tfidf",
    "t11_curation_pipeline", "t16_token_rarity", "t19_bigram_lift",
    "t20_boilerplate", "t21_passage_dedup", "t22_domain_mixture",
    "t23_bm25", "t24_lm_score",
    // mixture materialization + greedy packing: t27 is a zero-exchange
    // explode (output-linear), t28 one exchange + a serial walk per
    // (source, shard) group — group count is the parallelism lever
    "t27_mixture_resample", "t28_greedy_pack",
    // BPE-budgeted packing: the t28 kernel with the subword tokenizer
    // expression priced IN-PASS (the t34−t28 delta IS the tokenizer's
    // corpus cost — merge table folds in as literals, text never
    // shuffles). t33 (and its 1024-merge twin t35) are deliberately NOT
    // swept: this sweep times .count(), and both are pure projections
    // whose token arrays Catalyst prunes under a count — the row would
    // time a bare documents scan (the same reason t31's join chain is
    // not swept); t34's shuffle key and packing walk CONSUME the token
    // counts, so nothing prunes. t35's apply cost at scale is priced by
    // BPESWEEP_r13 (an agg over size(tokens) forces the kernel per row)
    "t34_bpe_pack",
    // train-once/score-many: the stats/model ingests build their tables
    // once per session; the timed rows are the recurring score-a-batch
    // cost (vs t23/t24's retrain-every-invocation baselines)
    "t23b_bm25_indexed", "t24b_lm_score_indexed",
    // DSIR importance weights: gram stream collapses map-side to
    // (doc, bucket) rows; distributions are bucket-bounded; the
    // log-ratio table broadcasts into the scoring join — linear scan
    // work. t29b scores against the prebuilt model (the recurring cost)
    "t29_dsir_weights", "t29b_dsir_indexed",
    // t31_curation_decision is deliberately NOT swept: this sweep times
    // .count(), and the decision query is a chain of cardinality-
    // preserving LEFT joins against per-doc AGGREGATES — Catalyst
    // proves the join keys distinct and eliminates the joins under a
    // count, so the row would time a pruned plan (measured: 0.4 s at
    // 100× vs its components' 9-14 s). Its scale story is its parts:
    // t24b + t29b are swept, and ExplainAll (noop sink) executes t31 fully.
    // leakage-safe split: repIngest builds the rep relation once per
    // session over the scaled corpus; the timed query is the recurring
    // cost — a doc_id equi-join against that persisted state
    "t26_leakage_safe_split",
    // exact / anti-join dedup (linear in input at any SF)
    "d1_dedup_exact", "d6_decontaminate", "d10_bloom_decontaminate",
    // incremental dedup: batch pinned to replica-0 keys, so the corpus
    // side scales linearly without the batch becoming N-way self-dupes;
    // d15s probes the MATERIALIZED banded index (built once per session
    // over the scaled corpus) with the same pinned batch — the recurring
    // per-ingest cost vs d12s's recompute-everything baseline
    "d12_incremental_scale", "d15_incremental_scale",
    // scoped AllPairs: replica-bucketed form — bucket count scales, bucket
    // size constant, output exactly N× base (see the d21s registration)
    "d21_scoped_scale")

  /** Replica-offset ids give every copy a DISTINCT vector: deterministic
    * per-(id, component) jitter in ±0.02 added to each float — small
    * enough to preserve neighborhood structure (V7SALTED recall vs exact
    * stays ≥ 0.9), large enough that no two replicas collide, so the
    * duplicate-collapse wrapper is an identity and knnGraph's CELLED CORE
    * carries the load. The `v7_knn_graph_salted` sweep row times it, and
    * V7SALTED_r14.json measured recall on this same definition — change
    * it and that recall claim no longer covers the timed data.
    */
  private[graft] def saltedEmbeddings(spark: SparkSession,
      dir: String): DataFrame =
    TestdataAdapter.table(spark, dir, "embeddings")
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> CAST(x + " +
          "(pmod(xxhash64(vec_id, i), 401L) - 200L) / 10000.0D AS FLOAT))"))

  /** Sweep rows that are measurement harnesses of already-verified
    * operators rather than operators themselves — they run in ScaleBench
    * only, so the correctness artifact doesn't grow rows-only entries
    * for what is exactness-covered elsewhere (v7's twin v7b).
    */
  private[graft] val ScaleOnly:
      Map[String, (SparkSession, String) => DataFrame] = Map(
    "v7_knn_graph_salted" -> ((s, d) =>
      graft.pipeline.Similarity.knnGraph(saltedEmbeddings(s, d))))

  /** Max mtime over the source tables — regenerated source data must
    * invalidate a previously scaled copy (same contract as
    * SparkEntry's sourceStamp for bucketed/partitioned ingests).
    */
  private def sourceStamp(srcDir: String): String = {
    val mtime = AllTables.map { t =>
      val f = new java.io.File(srcDir, s"$t.parquet")
      val own = f.lastModified()
      // maxOption: a table path that exists as an EMPTY directory must
      // stamp as its own mtime, not crash the sweep on max-of-empty
      val kids = Option(f.listFiles()).flatMap(_.map(_.lastModified()).maxOption)
      math.max(own, kids.getOrElse(0L))
    }.max
    java.lang.Long.toHexString(mtime)
  }

  /** Replicate srcDir into outDir once. The marker encodes BOTH the
    * replica count and the source stamp, and every other `_GRAFT_SCALED_*`
    * marker is deleted before regeneration — otherwise a rerun with
    * replicas=10 after a replicas=5 run into the same outDir (or after the
    * source data was regenerated in place) would find a stale marker and
    * silently time the wrong data.
    */
  private def generate(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int, partitions: Int): Unit = {
    val out = new java.io.File(outDir)
    val marker = new java.io.File(out,
      s"_GRAFT_SCALED_${replicas}_${sourceStamp(srcDir)}")
    if (marker.exists()) return
    Option(out.listFiles()).foreach(_.filter(_.getName.startsWith("_GRAFT_SCALED_"))
      .foreach(f => f.delete()))
    val rep = broadcast(spark.range(replicas).toDF("_r"))
    AllTables.foreach { t =>
      val df = spark.read.parquet(s"$srcDir/$t.parquet")
      val out = ScaledKeys.get(t) match {
        case Some(keys) =>
          // the replica offset is only collision-free while every source
          // key is under the stride — a bigger source corpus would make
          // replica key ranges overlap and silently corrupt every FK join
          // greatest() requires >= 2 args — single-key tables take max directly
          val maxCols = keys.map(k => max(col(k).cast("long")))
          val maxKey = df.agg(
            if (maxCols.size == 1) maxCols.head else greatest(maxCols: _*))
            .head()
          require(maxKey.isNullAt(0) || maxKey.getLong(0) < Stride,
            s"$t: max key ${maxKey.get(0)} >= stride $Stride — replica " +
              "key ranges would overlap; raise Stride for this source")
          df.crossJoin(rep).select(df.columns.map { c =>
            if (keys.contains(c)) (col(c) + col("_r") * Stride).as(c)
            else col(c)
          }.toIndexedSeq: _*).repartition(partitions)
        case None => df
      }
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    marker.createNewFile()
  }

  /** The host-speed reference row: a fixed, shuffle-heavy, multi-second
    * query [[Profile]] runs first and last in every pass. r11 lost
    * cross-round sweep comparability to a throttled host window and
    * proved it only by forensic isolated re-runs of unchanged code; this
    * makes the probe systematic — `host_factor` = median(reference runs)
    * / anchor rides in the JSON, so a skewed window flags itself. A
    * reading far from 1 means normalize or re-run, and a missing anchor
    * (unswept replica count) publishes null, never a guess.
    */
  private[graft] val HostRefRow = "x6_salted_join"
  /** Calm-window anchor seconds per replica count — the MEDIAN OF THE
    * SIX IN-SWEEP reference readings from the r12 calm-window sweep
    * artifacts (2026-08-15; window proven calm by per-row medians ≤ the
    * r11 artifacts and isolated cross-checks), which ran each row in its
    * own JVM: re-anchor before comparing one-JVM readings against them.
    * The anchor must be an in-sweep reading: isolated fresh-JVM runs of
    * the same row read ~25-30 % FASTER at 100× (median 9.24 s vs in-sweep
    * 12.2 s — page-cache state after 29 preceding queries differs from a
    * cold start), which is exactly the mistake the first recorded anchor
    * made (3.876 s, an unreproducible cache-warm isolated reading that
    * made a calm window read as factor 3.1). Dispersion at 100× is real
    * (isolated runs span 8.2-11.5 s): treat factor ≲ 1.5 as window
    * noise; the row exists to catch the ≥ 2.5× sustained-throttle class
    * r11 hit. `tools/recompute_host_factor.py` re-derives the field
    * from an artifact's own raw readings when anchors are corrected.
    */
  private val HostAnchor: Map[Int, Double] = Map(
    10 -> 1.271, 100 -> 12.195)

  def main(args: Array[String]): Unit = {
    // validate before booting a session: a typo'd name must fail loudly,
    // not print an empty green sweep
    val unknown = args.filterNot(Headline.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"not in Headline: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sfscale")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val runs = Profile.envRuns
    val spark = GraftSession.local(GraftSession.cpus)
    val p = try {
      generate(spark, srcDir, outDir, replicas, GraftSession.cpus.toInt)
      Profile.run(spark, outDir, runs,
        if (args.nonEmpty) args.toSeq else Headline,
        SparkEntry.queries ++ ScaleOnly)
    } finally spark.stop()
    println(p.copy(hostAnchor = HostAnchor.get(replicas)).json)
    if (p.nErr > 0) sys.exit(1)
  }
}
