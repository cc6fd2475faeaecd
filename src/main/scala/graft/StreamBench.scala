package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming throughput benchmark — the continuous-execution numbers the
  * batch benches ([[Bench]], [[ScaleBench]]) cannot see:
  *
  *  1. the INDEXED DEDUP INGEST loop
  *     ([[graft.streaming.StreamDedup.incrementalNearDupIndexed]]): N
  *     micro-batches of fixed size stream through the band + containment
  *     gates, each batch probing and then maintaining the materialized
  *     index. Per-batch wall latency over the run is the design's core
  *     claim made measurable: the banded index keeps per-ingest cost
  *     O(batch), so the latency curve must stay FLAT as the corpus (and
  *     index) grows — a corpus-coupled probe would slope upward.
  *  2. the QUALITY-GATE scoring loop ([[graft.streaming.StreamScore]]):
  *     micro-batches scored against the prebuilt bigram-LM model — the
  *     train-once/score-many split running in its production position;
  *     per-batch cost must track the batch, never the model corpus.
  *
  * Prints ONE JSON line:
  * `{"metric":"stream_throughput","ingest":{...},"quality_gate":{...}}`
  * with per-batch latencies (seconds), aggregate records/s, and the
  * final index/corpus sizes. Run via the [[ScaleBench]] java -cp recipe;
  * `SPARK_GRAFT_SF_DIR` picks the source table (default sf0.1),
  * `SPARK_GRAFT_STREAM_BATCHES` / `_BATCH_ROWS` the shape.
  */
object StreamBench {

  /** Warmup batches excluded from every derived metric: batch 0 pays JIT
    * compilation + stream bootstrap (and, under a pinned snapshot, the
    * one-time index resolve), batch 1 still carries stragglers of both.
    * The raw `latency_sec` arrays keep every batch for transparency —
    * only the sums, rates, trends, and cross-run ratios drop them, so a
    * "big over small" ratio measures the steady-state cost the claim is
    * about instead of whichever run happened to pay the JIT bill.
    */
  private val WarmupBatches = 2
  private[graft] def steady(xs: Seq[Double]): Seq[Double] =
    if (xs.size > WarmupBatches + 2) xs.drop(WarmupBatches) else xs
  private def arr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")
  /** Median with even-count middle-pair averaging; 0 on empty. ONE
    * definition for every artifact (StreamBench trends, Profile's
    * per-row and host-reference medians) — a drifted copy would change
    * `host_factor` depending on which path computed it. The Python twin
    * in tools/recompute_host_factor.py must stay byte-consistent.
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Flatness proxy: median of the last half over median of the first
    * half of the steady batches, excluding (for compacting loops) the
    * batches that carry the every-`compactEvery` index fold. The old
    * mean-of-first-3-vs-last-3 over raw batches flipped its verdict with
    * configuration: warmup inflated the first window and whichever
    * batches `compactEvery` landed on inflated the other.
    */
  private[graft] def steadyTrend(xs: Seq[Double], compactEvery: Int = 0): Double = {
    // index in the ORIGINAL series rides with each batch — steady() only
    // drops the warmup prefix for long-enough series, so adding
    // WarmupBatches back unconditionally would misalign short series by
    // 2 and exclude the wrong batches from the compaction mask
    val eligible = xs.zipWithIndex.drop(xs.size - steady(xs).size).collect {
      case (x, i) if compactEvery <= 0 ||
        i % compactEvery != compactEvery - 1 => x
    }
    if (eligible.size < 4) 1.0
    else {
      val (a, b) = eligible.splitAt(eligible.size / 2)
      median(b) / median(a)
    }
  }
  private def steadyRps(xs: Seq[Double], rowsPerBatch: Int): Double =
    steady(xs).size * rowsPerBatch / steady(xs).sum

  /** The `latency_sec`, `steady_records_per_sec` and `steady_trend`
    * fields of one timed loop (no braces, no trailing comma).
    */
  private def latencyJson(lat: Seq[Double], rowsPerBatch: Int,
      compactEvery: Int = 0): String =
    s""""latency_sec":${arr(lat)},"steady_records_per_sec":${
      f"${steadyRps(lat, rowsPerBatch)}%.1f"},"steady_trend":${
      f"${steadyTrend(lat, compactEvery)}%.3f"}"""

  /** Per-batch wall seconds of feeding `batches` through `input` and
    * running `q` to quiescence after each; stops `q`.
    */
  private def timeBatches[T](input: MemoryStream[T], q: StreamingQuery,
      batches: Iterator[Array[T]]): Seq[Double] =
    try batches.map { rows =>
      val t0 = System.nanoTime()
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }.toSeq
    finally q.stop()

  /** Word-salted replica of the documents table: every 4th word of each
    * text is replaced by a replica-unique token, which destroys ~3/4 of
    * the w=3 shingles — cross-replica Jaccard lands near 1/7, far below
    * both the near-dup (0.8) and containment (0.9) gates, so replicas
    * are DISTINCT documents to the dedup engine (unlike [[ScaleBench]]'s
    * raw replication, which makes every doc an exact N-way dup — right
    * for batch-dedup sweeps, wrong for growing a real corpus). doc_ids
    * offset by the ScaleBench stride so ids never collide.
    */
  private[graft] def saltedReplicas(spark: SparkSession, sfDir: String,
      replicas: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
    val rep = broadcast(spark.createDataset(replicas)(
      org.apache.spark.sql.Encoders.scalaInt).toDF("_r"))
    docs.crossJoin(rep).select(
      (col("doc_id") + col("_r") * ScaleBench.Stride).as("doc_id"),
      array_join(
        transform(split(col("text"), " "),
          (w, i) => when(pmod(i, lit(4)) === 0,
            concat(lit("xq"), col("_r"), lit("q"), i)).otherwise(w)),
        " ").as("text"))
  }

  /** Scaled-ingest benchmark (run with SPARK_GRAFT_STREAM_SCALED_REPLICAS
    * = N > 0): pre-build a corpus of N salted replicas (~N×5k docs at
    * sf0.1) plus its band + containment indexes, then stream the same
    * fresh-doc feed through [[graft.streaming.StreamDedup.incrementalNearDupIndexed]]
    * against (a) that corpus and (b) a 1-replica control — the O(batch)
    * claim measured where it matters: per-batch latency must not track
    * corpus size, so `big_over_small` must stay near 1 and each run's
    * own latency curve flat.
    */
  private def scaledIngest(spark: SparkSession, sfDir: String,
      replicas: Int, nBatches: Int, batchRows: Int): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // section-bracketing CPU probe (r15 Next #2): the big/small ratios
    // compare two windows minutes apart — external CPU load in one of
    // them skews the ratio invisibly, the r14 contamination class
    val cpuFirst = BenchUtil.cpuSpin()
    // ONE definition for the loop, the trend mask, and the attribution
    // split below — a drifted copy would mask the wrong batches
    val compactEvery = 4
    val feedRep = replicas + 1 // held-out replica: new docs to every corpus
    val feed = saltedReplicas(spark, sfDir, Seq(feedRep))
      .orderBy("doc_id").limit(nBatches * batchRows)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    // (corpusRows, corpusWriteSec, indexBuildSec, perBatchLat)
    def run(tag: String, nRep: Int, batches: Int):
        (Long, Double, Double, Seq[Double]) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_scaled_$tag").toString
      val tbl = s"graft_scaledbench_band_$tag"
      val ctbl = s"graft_scaledbench_post_$tag"
      Seq(tbl, ctbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val corpus = saltedReplicas(spark, sfDir, 0 until nRep)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // corpus materialization timed separately from the index build —
      // one JSON field must not mean two different things across
      // sections. Manifested form: the loop lands batches as append
      // segments, so the pre-built base must be a committed segment too
      val tw = System.nanoTime()
      graft.engine.Layout.writeManifested(corpus, s"$dir/corpus", 8)
      val writeSec = (System.nanoTime() - tw) / 1e9
      val t0 = System.nanoTime()
      graft.pipeline.Dedup.buildBandedIndex(corpus, tbl, s"$dir/sh")
      graft.pipeline.Dedup.buildContainmentIndex(spark, s"$dir/sh", ctbl)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val corpusRows = corpus.count()
      corpus.unpersist()
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamDedup.incrementalNearDupIndexed(
        input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh",
        s"$dir/corpus", s"$dir/ckpt", compactEvery = compactEvery,
        containTable = Some(ctbl), manifestedCorpus = true)
      val lat = timeBatches(input, q, feed.grouped(batchRows).take(batches))
      (corpusRows, writeSec, buildSec, lat)
    }

    // throwaway warmup run: JIT + codegen for every ingest code path land
    // here, not on whichever timed run goes first (the control ran first
    // and absorbed the warmup bill, flattering big_over_small)
    run("warm", 1, math.min(2, nBatches))
    val (smallRows, smallWrite, smallBuild, smallLat) =
      run("small", 1, nBatches)
    val (bigRows, bigWrite, bigBuild, bigLat) =
      run("big", replicas, nBatches)
    def side(rows: Long, write: Double, build: Double,
        lat: Seq[Double]): String =
      s"""{"corpus_rows":$rows,"corpus_write_sec":${f"$write%.1f"},""" +
      s""""index_build_sec":${f"$build%.1f"},""" +
      s"""${latencyJson(lat, batchRows, compactEvery)}}"""
    // attribution split (r13, closes the r12 "name the growth term"
    // item): the combined ratio mixes two regimes — ordinary batches,
    // whose cost must track the BATCH (the O(batch) claim), and the
    // every-compactEvery batches that fold the band table back to one
    // file per bucket, a DELIBERATE O(corpus / compactEvery) term (the
    // fold rewrites the whole bucketed table; its production lever is
    // the cadence: size compactEvery so the amortized fold cost stays
    // under the batch cost). Publishing them separately makes a
    // corpus-coupling leak in the SCORING path (noncompact ratio
    // drifting above 1) distinguishable from the priced compaction term
    // (compact ratio ~ corpus ratio, by design).
    def splitByCompaction(lat: Seq[Double]): (Seq[Double], Seq[Double]) = {
      val st = lat.zipWithIndex.drop(lat.size - steady(lat).size)
      val (c, nc) = st.partition { case (_, i) =>
        i % compactEvery == compactEvery - 1 }
      (nc.map(_._1), c.map(_._1))
    }
    val (bigNc, bigC) = splitByCompaction(bigLat)
    val (smallNc, smallC) = splitByCompaction(smallLat)
    def ratio(a: Seq[Double], b: Seq[Double]): String =
      if (a.isEmpty || b.isEmpty || b.sum == 0.0) "null"
      else f"${a.sum / b.sum}%.3f"
    println(
      s"""{"metric":"stream_throughput_scaled","sf":"$sfDir",""" +
      s""""batch_rows":$batchRows,"batches":$nBatches,""" +
      s""""warmup_batches":$WarmupBatches,""" +
      s""""big":${side(bigRows, bigWrite, bigBuild, bigLat)},""" +
      s""""small":${side(smallRows, smallWrite, smallBuild, smallLat)},""" +
      s""""big_over_small":${
        f"${steady(bigLat).sum / steady(smallLat).sum}%.3f"},""" +
      s""""noncompact_big_over_small":${ratio(bigNc, smallNc)},""" +
      s""""compact_big_over_small":${ratio(bigC, smallC)},""" +
      BenchUtil.cpuJson(Seq(cpuFirst, BenchUtil.cpuSpin())) + "}")
  }

  /** Scaled curation-gate benchmark (SPARK_GRAFT_STREAM_SCALED_MODE =
    * curation): stream the same held-out feed through the FULL
    * [[graft.streaming.StreamScore.curationGate]] (quality heuristics →
    * bigram-LM → DSIR target affinity, the t31 decision) against models
    * built from (a) a `replicas`× corpus and (b) a 1× control. The
    * design claim under test: per-batch scoring cost tracks the BATCH,
    * never the model corpus — both models are fixed-size artifacts (the
    * LM's vocabulary table joins by the batch's own grams; DSIR's
    * log-ratio model is 4096 bucket rows regardless of fit corpus), so
    * `big_over_small` must sit near 1. What DOES grow with the corpus is
    * the one-time model FIT (`model_build_sec`, reported per side — the
    * train-once cost, paid off-path) and the LM vocabulary row count
    * (`lm_model_rows`, the broadcast-side size a 100 TB deployment would
    * cap by vocabulary pruning).
    */
  private def scaledCuration(spark: SparkSession, sfDir: String,
      replicas: Int, nBatches: Int, batchRows: Int): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cpuFirst = BenchUtil.cpuSpin() // see scaledIngest

    val feedRep = replicas + 1 // held-out replica: fresh docs to either model
    val feed = saltedReplicas(spark, sfDir, Seq(feedRep))
      .orderBy("doc_id").limit(nBatches * batchRows)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    // (corpusRows, lmModelRows, buildSec, perBatchLat, accepted,
    //  rejected, minLmC6, minDsirC6)
    def run(tag: String, nRep: Int, batches: Int):
        (Long, Long, Double, Seq[Double], Long, Long, Long, Long) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_scaledcur_$tag").toString
      // the DSIR fit needs each doc's lang (target-vs-raw split);
      // saltedReplicas carries only (doc_id, text), so join it back by
      // the replica-invariant base id
      val langOf = broadcast(spark.read
        .parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("_base_id"), col("lang")))
      val corpus = saltedReplicas(spark, sfDir, 0 until nRep)
        .withColumn("_base_id", pmod(col("doc_id"), lit(ScaleBench.Stride)))
        .join(langOf, Seq("_base_id")).drop("_base_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpusRows = corpus.count()
      val t0 = System.nanoTime()
      graft.pipeline.TextAnalysis.buildLmModel(corpus, s"$dir/lm")
      graft.pipeline.TextAnalysis.buildDsirModel(corpus, s"$dir/dsir")
      val buildSec = (System.nanoTime() - t0) / 1e9
      corpus.unpersist()
      val lmRows = spark.read.parquet(s"$dir/lm").count()
      // CALIBRATED thresholds: a fixed absolute cut-off tuned at 1×
      // rejects EVERYTHING under the grown model (21× vocabulary →
      // lower per-doc log-probs), degenerating the routing half of the
      // benchmark. Since r12 the calibration is the PRODUCTION operator
      // ([[graft.streaming.StreamScore.writeGateThresholds]], the t32
      // rank rule) and the gate under test is the calibrated form that
      // re-reads the threshold artifact per batch — the bench now times
      // exactly what a recalibrating deployment runs. The calibration
      // slice is the first batch's docs, which the timed loop also
      // replays — deliberate (the slice must look like the feed), and
      // harmless for a throughput bench: routing fractions, not
      // held-out generalization, are what the timing needs.
      val cal = spark.createDataFrame(
        feed.take(batchRows).toIndexedSeq).toDF("doc_id", "text")
      graft.streaming.StreamScore.writeGateThresholds(spark,
        s"$dir/lm", s"$dir/dsir", cal, s"$dir/thresholds")
      val thRow = graft.streaming.StreamScore.readGateThresholds(spark,
        s"$dir/thresholds")
      val (minLm, minDsir) = (thRow.getLong(0), thRow.getLong(1))
      val input = MemoryStream[(Long, String)]
      val gq = graft.streaming.StreamScore.curationGateCalibrated(
        input.toDF().toDF("doc_id", "text"), s"$dir/lm", s"$dir/dsir",
        s"$dir/thresholds", s"$dir/accept", s"$dir/reject", s"$dir/ckpt")
      val lat = timeBatches(input, gq, feed.grouped(batchRows).take(batches))
      val acc = spark.read.parquet(s"$dir/accept").count()
      val rej = spark.read.parquet(s"$dir/reject").count()
      (corpusRows, lmRows, buildSec, lat, acc, rej, minLm, minDsir)
    }

    // throwaway warmup run: JIT + codegen for the whole gate path land
    // here, not on whichever timed run goes first (the r10 lesson —
    // control-first ordering flattered big_over_small)
    run("warm", 1, math.min(2, nBatches))
    val (smallRows, smallLm, smallBuild, smallLat, smallAcc, smallRej,
      smallMinLm, smallMinDsir) = run("small", 1, nBatches)
    val (bigRows, bigLm, bigBuild, bigLat, bigAcc, bigRej,
      bigMinLm, bigMinDsir) = run("big", replicas, nBatches)
    def side(rows: Long, lm: Long, build: Double, lat: Seq[Double],
        acc: Long, rej: Long, minLm: Long, minDsir: Long): String =
      s"""{"corpus_rows":$rows,"lm_model_rows":$lm,""" +
      s""""model_build_sec":${f"$build%.1f"},""" +
      s"""${latencyJson(lat, batchRows)},""" +
      s""""accepted_rows":$acc,"rejected_rows":$rej,""" +
      s""""cal_min_lm_c6":$minLm,"cal_min_dsir_c6":$minDsir}"""
    println(
      s"""{"metric":"stream_curation_scaled","sf":"$sfDir",""" +
      s""""batch_rows":$batchRows,"batches":$nBatches,""" +
      s""""warmup_batches":$WarmupBatches,""" +
      s""""big":${side(bigRows, bigLm, bigBuild, bigLat, bigAcc, bigRej,
        bigMinLm, bigMinDsir)},""" +
      s""""small":${side(smallRows, smallLm, smallBuild, smallLat,
        smallAcc, smallRej, smallMinLm, smallMinDsir)},""" +
      s""""big_over_small":${
        f"${steady(bigLat).sum / steady(smallLat).sum}%.3f"},""" +
      BenchUtil.cpuJson(Seq(cpuFirst, BenchUtil.cpuSpin())) + "}")
  }

  /** Replicated embeddings corpus: vec_ids offset by the ScaleBench
    * stride; every 16th coordinate (rotating per replica) bumped by a
    * replica-scaled constant so replicas are DISTINCT directions to
    * cosine — exact copies would collapse onto duplicate k-means
    * centroids and make the grown index's cell structure degenerate
    * rather than 21× wider.
    */
  private def replicatedEmbeddings(spark: SparkSession, sfDir: String,
      replicas: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
    val rep = broadcast(spark.createDataset(replicas)(
      org.apache.spark.sql.Encoders.scalaInt).toDF("_r"))
    emb.crossJoin(rep).select(
      (col("vec_id") + col("_r") * ScaleBench.Stride).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(pmod(i + col("_r"), lit(16)) === 0,
          x + col("_r").cast("float") * lit(0.003f)).otherwise(x))
        .as("embedding"))
  }

  /** Scaled-retrieval benchmark (runs with the scaled-ingest mode): serve
    * the SAME query feed from (a) an IVF index over `replicas`× the
    * embeddings corpus and (b) a 1× control, each under two snapshot
    * policies — `refresh` (re-resolve the index every batch: maximum
    * freshness, pays the directory listing per batch) and `pinned`
    * (resolve once: the steady-state serving position). The index's
    * occupancy cap (`centroidEvery`) makes cell COUNT, not cell size,
    * absorb corpus growth, and each batch's probed-cell filter prunes
    * partitions before any I/O — so the PINNED ratio isolates the
    * data-plane claim (per-batch cost tracks batch × probe fan-out, not
    * index size: `pinned_big_over_small` near 1) while the refresh ratio
    * measures what per-batch freshness costs: a metadata term linear in
    * cell count, amortized 1/N by `refreshEvery = N`.
    */
  private def scaledRetrieval(spark: SparkSession, sfDir: String,
      replicas: Int, nBatches: Int, batchRows: Int): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cpuFirst = BenchUtil.cpuSpin() // see scaledIngest

    val feed = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id").limit(nBatches * batchRows)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // (indexRows, cells, buildSec, refreshLat, pinnedLat)
    def run(tag: String, nRep: Int, batches: Int):
        (Long, Int, Double, Seq[Double], Seq[Double]) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_scaledretr_$tag").toString
      val corpus = replicatedEmbeddings(spark, sfDir, 0 until nRep)
      val t0 = System.nanoTime()
      val centroids = graft.pipeline.Similarity
        .buildIvfIndex(corpus, s"$dir/ivfindex")
      val buildSec = (System.nanoTime() - t0) / 1e9
      val indexRows = spark.read.parquet(s"$dir/ivfindex").count()
      def serve(policy: String, refreshEvery: Int): Seq[Double] = {
        val input = MemoryStream[(Long, Array[Float])]
        val q = graft.streaming.StreamRetrieve.retrievalLoop(
          input.toDF().toDF("vec_id", "embedding"), s"$dir/ivfindex",
          centroids, s"$dir/topk_$policy", s"$dir/ckpt_$policy",
          refreshEvery = refreshEvery)
        timeBatches(input, q, feed.grouped(batchRows).take(batches))
      }
      (indexRows, centroids.length, buildSec,
        serve("refresh", 1), serve("pinned", Int.MaxValue))
    }

    // throwaway warmup run (JIT + codegen for the whole serve path), so
    // the first timed run doesn't absorb the warmup bill; the steady()
    // window additionally drops each serve's own batch-0 snapshot
    // resolve, which is a metadata cost the pinned policy exists to
    // amortize, not data-plane work
    run("warm", 1, math.min(2, nBatches))
    val (smallRows, smallCells, smallBuild, smallRef, smallPin) =
      run("small", 1, nBatches)
    val (bigRows, bigCells, bigBuild, bigRef, bigPin) =
      run("big", replicas, nBatches)
    def side(rows: Long, cells: Int, build: Double, ref: Seq[Double],
        pin: Seq[Double]): String =
      s"""{"index_rows":$rows,"cells":$cells,""" +
      s""""index_build_sec":${f"$build%.1f"},""" +
      s""""refresh_latency_sec":${arr(ref)},""" +
      s""""refresh_steady_records_per_sec":${
        f"${steadyRps(ref, batchRows)}%.1f"},""" +
      s""""pinned_latency_sec":${arr(pin)},""" +
      s""""pinned_steady_records_per_sec":${
        f"${steadyRps(pin, batchRows)}%.1f"}}"""
    println(
      s"""{"metric":"stream_retrieval_scaled","sf":"$sfDir",""" +
      s""""batch_rows":$batchRows,"batches":${bigRef.size},""" +
      s""""warmup_batches":$WarmupBatches,""" +
      s""""big":${side(bigRows, bigCells, bigBuild, bigRef, bigPin)},""" +
      s""""small":${side(smallRows, smallCells, smallBuild, smallRef, smallPin)},""" +
      s""""refresh_big_over_small":${
        f"${steady(bigRef).sum / steady(smallRef).sum}%.3f"},""" +
      s""""pinned_big_over_small":${
        f"${steady(bigPin).sum / steady(smallPin).sum}%.3f"},""" +
      BenchUtil.cpuJson(Seq(cpuFirst, BenchUtil.cpuSpin())) + "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH_ROWS", "500").toInt
    val spark = GraftSession.local(GraftSession.cpus)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // scaled-ingest mode: prove O(batch) against a pre-built >=100k-doc
    // corpus, then exit (its own one-line JSON contract)
    val scaledReplicas =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALED_REPLICAS", "0").toInt
    if (scaledReplicas > 0) {
      // _SCALED_MODE selects a subset (ingest|retrieval|curation|all) so
      // each section can be regenerated without re-running the others;
      // the no-env default runs EVERY scaled section
      val mode =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALED_MODE", "all")
      // a typo'd mode must fail loudly, never print an empty green run
      require(Set("ingest", "retrieval", "curation", "all").contains(mode),
        s"unknown SPARK_GRAFT_STREAM_SCALED_MODE '$mode' " +
          "(expected ingest|retrieval|curation|all)")
      if (mode == "ingest" || mode == "all")
        scaledIngest(spark, sfDir, scaledReplicas, nBatches, batchRows)
      if (mode == "retrieval" || mode == "all")
        scaledRetrieval(spark, sfDir, scaledReplicas, nBatches, batchRows)
      if (mode == "curation" || mode == "all")
        scaledCuration(spark, sfDir, scaledReplicas, nBatches, batchRows)
      spark.stop()
      return
    }

    // whole-run CPU probe (r16): the base sections had NO contention
    // flag — a decaying external load during the ingest loop read as a
    // 2x throughput regression with a growing trend (diagnosed by
    // re-running the identical binary on the quieted host: 66 -> 134
    // rec/s), exactly the r14 contamination class the scaled sections'
    // probes now catch. One reading per end of run brackets every
    // section.
    val cpuFirst = BenchUtil.cpuSpin()

    // ---- 1. indexed dedup ingest ------------------------------------
    // feed = real documents in doc_id order, constant batch size; most
    // are unique (append + index-maintenance work every batch), the
    // planted near-dups exercise the reject path
    val feed = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id")
      .limit(nBatches * batchRows)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val dir = java.nio.file.Files.createTempDirectory("graft_streambench").toString
    val tbl = "graft_streambench_band"
    val ctbl = "graft_streambench_post"
    Seq(tbl, ctbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val input = MemoryStream[(Long, String)]
    // manifestedCorpus: landings are append-commit segments (O(batch)
    // metadata installs) and the cadence repayment is the size-tiered
    // tail/full fold — the production shape (r15; the flat mode's plain
    // file appends are kept for callers that want listing-contract reads)
    val q = graft.streaming.StreamDedup.incrementalNearDupIndexed(
      input.toDF().toDF("doc_id", "text"), tbl, s"$dir/sh", s"$dir/corpus",
      s"$dir/ckpt", compactEvery = 4, containTable = Some(ctbl),
      manifestedCorpus = true)
    val ingestLat = timeBatches(input, q, feed.grouped(batchRows).take(nBatches))
    val corpusRows =
      graft.engine.Layout.readManifested(spark, s"$dir/corpus").count()
    val indexRows = spark.table(tbl).count()
    val postRows = spark.table(ctbl).count()

    // ---- 2. quality-gate scoring loop -------------------------------
    // train-once: the LM model materializes from the source table; each
    // micro-batch is then scored by a vocab-keyed join against it
    // (StreamScore) — per-batch cost must track the batch, not the model
    // corpus, and the latency curve must stay flat like the ingest's
    graft.pipeline.TextAnalysis.buildLmModel(
      spark.read.parquet(s"$sfDir/documents.parquet"), s"$dir/model")
    val ginput = MemoryStream[(Long, String)]
    val gq = graft.streaming.StreamScore.qualityGate(
      ginput.toDF().toDF("doc_id", "text"), s"$dir/model",
      s"$dir/accept", s"$dir/reject", s"$dir/gckpt")
    val gateLat = timeBatches(ginput, gq, feed.grouped(batchRows).take(nBatches))
    val acceptRows = spark.read.parquet(s"$dir/accept").count()
    val rejectRows = spark.read.parquet(s"$dir/reject").count()

    // ---- 2b. DSIR curation gate -------------------------------------
    // the FULL t31 decision in its streaming position: quality
    // heuristics → bigram-LM gate → DSIR target-affinity gate, all
    // against prebuilt models (t31 gate thresholds, so every branch
    // fires). Adds one broadcast bucket join per batch over the
    // quality_gate section above — per-batch cost must still track the
    // batch, and the curve must stay flat
    graft.pipeline.TextAnalysis.buildDsirModel(
      spark.read.parquet(s"$sfDir/documents.parquet"), s"$dir/dsirmodel")
    val cinput = MemoryStream[(Long, String)]
    val cq = graft.streaming.StreamScore.curationGate(
      cinput.toDF().toDF("doc_id", "text"), s"$dir/model",
      s"$dir/dsirmodel", s"$dir/caccept", s"$dir/creject", s"$dir/cckpt",
      minLmC6 = -3400000L, minDsirC6 = -8000000L)
    val curLat = timeBatches(cinput, cq, feed.grouped(batchRows).take(nBatches))
    val cAcceptRows = spark.read.parquet(s"$dir/caccept").count()
    val cRejectRows = spark.read.parquet(s"$dir/creject").count()

    // ---- 3. moment-state maintenance --------------------------------
    // per batch: one gram_sum reduction of the batch + an O(dim²) state
    // add — latency must be flat (state never grows, work tracks the batch)
    val efeed = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id")
      .limit(nBatches * batchRows)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val minput = MemoryStream[(Long, Array[Float])]
    val mq = graft.streaming.StreamMoments.momentMonitor(
      minput.toDF().toDF("vec_id", "embedding"),
      s"$dir/mstate", s"$dir/mdrift", s"$dir/mckpt")
    val momentLat = timeBatches(minput, mq, efeed.grouped(batchRows).take(nBatches))
    val momentN = graft.streaming.StreamMoments
      .readState(spark, s"$dir/mstate").map(_._1).getOrElse(0L)

    // ---- 4. continuous retrieval ------------------------------------
    // serving position: query batches probe the materialized IVF index
    // (partition-pruned), top-k lands exactly once; latency must track
    // the batch × probe fan-out, never the index
    val centroids = graft.pipeline.Similarity.buildIvfIndex(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), s"$dir/ivfindex")
    val rinput = MemoryStream[(Long, Array[Float])]
    val rq = graft.streaming.StreamRetrieve.retrievalLoop(
      rinput.toDF().toDF("vec_id", "embedding"), s"$dir/ivfindex",
      centroids, s"$dir/topk", s"$dir/rckpt")
    val retrLat = timeBatches(rinput, rq, efeed.grouped(batchRows).take(nBatches))
    val topkRows = spark.read.parquet(s"$dir/topk").count()

    // ---- 5. retrieval with the mounted v19 drift monitor ------------
    // the same serving loop with a recall@k self-measurement every
    // `monEvery` batches (holdout queries through the pinned snapshot vs
    // an exact pass over the live index — StreamRetrieve scaladoc). The
    // interesting numbers: the recall rows actually emitted, and what a
    // monitor batch costs over a plain one (the exact pass is |holdout| ×
    // |index| — the cadence knob's price tag).
    val monEvery = 4
    // r14 (verdict Next #7): holdout raised 20 → 100 (recall@k over 20
    // queries moves in 0.05 steps — too coarse for a drift ALARM), and
    // the loop runs long enough for ≥ 3 emissions so drift has a TREND,
    // cycling the feed groups when nBatches alone wouldn't reach that
    val monHoldoutRows = 100
    val holdout = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id").limit(monHoldoutRows)
    val monBatches = math.max(nBatches, 3 * monEvery)
    val monGroups = efeed.grouped(batchRows).take(nBatches).toSeq
    val moninput = MemoryStream[(Long, Array[Float])]
    val monq = graft.streaming.StreamRetrieve.retrievalLoop(
      moninput.toDF().toDF("vec_id", "embedding"), s"$dir/ivfindex",
      centroids, s"$dir/topk_mon", s"$dir/rckpt_mon",
      holdout = holdout, metricsEvery = monEvery,
      metricsPath = s"$dir/retr_metrics")
    val monLat = timeBatches(moninput, monq,
      Iterator.continually(monGroups).flatten.take(monBatches))
    val monRows = spark.read.parquet(s"$dir/retr_metrics")
      .orderBy("batch_id").collect()
    val monRecalls = monRows.map(_.getAs[Double]("recall_at_k")).toSeq
    // monitor-batch overhead: median monitor batch over median plain
    // batch, steady window (monitor batches are every monEvery-th)
    val (monB, plainB) = monLat.zipWithIndex
      .drop(monLat.size - steady(monLat).size)
      .partition { case (_, i) => i % monEvery == monEvery - 1 }
    val monOver =
      if (monB.isEmpty || plainB.isEmpty) "null"
      else f"${median(monB.map(_._1)) / median(plainB.map(_._1))}%.3f"
    // amortized per-batch tax of mounting the monitor at cadence c,
    // DERIVED from the same medians: (mon + (c-1)·plain) / (c·plain) —
    // the number a deployment sizing its cadence actually pays
    def amortized(c: Int): String =
      if (monB.isEmpty || plainB.isEmpty) "null"
      else {
        val m = median(monB.map(_._1)); val p = median(plainB.map(_._1))
        f"${(m + (c - 1) * p) / (c * p)}%.3f"
      }

    println(
      s"""{"metric":"stream_throughput","sf":"$sfDir",""" +
      s""""warmup_batches":$WarmupBatches,""" +
      s""""ingest":{"batch_rows":$batchRows,"batches":${ingestLat.size},""" +
      s"""${latencyJson(ingestLat, batchRows, 4)},""" +
      s""""corpus_rows":$corpusRows,"band_index_rows":$indexRows,""" +
      s""""posting_rows":$postRows},""" +
      s""""quality_gate":{"batch_rows":$batchRows,"batches":${gateLat.size},""" +
      s"""${latencyJson(gateLat, batchRows)},""" +
      s""""accepted_rows":$acceptRows,"rejected_rows":$rejectRows},""" +
      s""""curation_gate":{"batch_rows":$batchRows,"batches":${curLat.size},""" +
      s"""${latencyJson(curLat, batchRows)},""" +
      s""""accepted_rows":$cAcceptRows,"rejected_rows":$cRejectRows},""" +
      s""""moments":{"batch_rows":$batchRows,"batches":${momentLat.size},""" +
      s"""${latencyJson(momentLat, batchRows)},""" +
      s""""vectors_ingested":$momentN},""" +
      s""""retrieval":{"batch_rows":$batchRows,"batches":${retrLat.size},""" +
      s"""${latencyJson(retrLat, batchRows)},""" +
      s""""topk_rows":$topkRows},""" +
      s""""retrieval_monitor":{"batch_rows":$batchRows,""" +
      s""""batches":${monLat.size},"metrics_every":$monEvery,""" +
      s""""holdout_rows":$monHoldoutRows,"latency_sec":${arr(monLat)},""" +
      s""""recall_rows":${monRecalls.size},""" +
      s""""recall_at_k":${arr(monRecalls)},""" +
      s""""monitor_batch_over_plain":$monOver,""" +
      s""""amortized_overhead_c4":${amortized(4)},""" +
      s""""amortized_overhead_c8":${amortized(8)}},""" +
      BenchUtil.cpuJson(Seq(cpuFirst, BenchUtil.cpuSpin())) + "}")
    spark.stop()
  }
}
