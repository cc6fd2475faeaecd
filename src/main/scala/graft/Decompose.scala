package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{agg => gagg, vector => gvec}
import graft.pipeline.Similarity

/** The ONE performance-attribution diagnostic (r16, folding the per-round
  * one-shot mains V7Decompose / V16Decompose / V16Hot / V17Decompose /
  * SuiteDecompose / IsolatedRows into modes of a single entry point —
  * r15 Next #6). Every committed protocol is preserved verbatim — same
  * stages, same env knobs, same JSON metric lines — so prior artifacts
  * (V7SALTED_r14 companions, SUITEDECOMP_r15, the V16/V17 decompositions
  * cited in SCALE.md) are reproducible from this main; the next
  * attribution is a mode/flag, not a new file.
  *
  * Usage: runMain graft.Decompose <mode> [mode args]
  *
  *   suite              — in-suite bench-median decomposition: replays
  *                        the EXACT Bench protocol (warmup pass + RUNS
  *                        timed passes, alphabetical, one JVM) with
  *                        JIT/GC/code-cache/metaspace/class counters
  *                        snapshotted around every timed query
  *                        (`"metric":"suite_decompose"`; r15 Next #1's
  *                        harness). SPARK_GRAFT_DECOMP_REF=1 also runs
  *                        the host-reference row first/last per pass,
  *                        mirroring Bench exactly.
  *   isolated <q...>    — isolated-twin timer: each named query in THIS
  *                        fresh JVM, one warmup + RUNS timed runs,
  *                        min/median per row (`"metric":"isolated_rows"`;
  *                        the adjudication step the r12-r14 verdicts
  *                        kept reconstructing by hand).
  *   v7  [dir] [cpus]   — knnGraph stage split: seeds / lloyd / assign
  *                        persist / join-only / join+topk / full
  *                        (`"metric":"v7_decompose"`; r12 Next #1).
  *   v16 [dir] [cpus]   — pqTopK stage split with GC + task metrics,
  *                        including the ABANDONED r13 crossJoin shape as
  *                        evidence stages (`"metric":"v16_decompose"`;
  *                        r13 Next #1).
  *   v17                — ivfPqTopK parameter-isolated variants
  *                        (`"metric":"v17_decompose"`; r15's gate
  *                        attribution).
  *   hot [dir]          — loops the v16 retrieve stage forever as a
  *                        jstack target. Diagnostic only, no artifact.
  */
object Decompose {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("suite") => suite()
    case Some("isolated") => isolated(args.tail)
    case Some("v7") => v7(args.tail)
    case Some("v16") => v16(args.tail)
    case Some("v17") => v17()
    case Some("d20") => d20()
    case Some("t29") => t29()
    case Some("hot") => hot(args.tail)
    case other =>
      System.err.println("usage: Decompose " +
        "<suite|isolated|v7|v16|v17|d20|hot> [args]" +
        other.fold("")(m => s" (got '$m')"))
      sys.exit(2)
  }

  private def r3(x: Double): Double = BenchUtil.r3(x)

  // ---- shared counter core -------------------------------------------

  /** Process-wide GC seconds (all collectors) — stage deltas attribute
    * collector pressure to the stage that provoked it (stages run
    * serially in every mode).
    */
  private def gcSec(): Double = ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** (wall seconds, GC seconds) of one evaluation. */
  private def timedGc[T](f: => T): (Double, Double) = {
    val g0 = gcSec()
    val (_, t) = BenchUtil.timed(f)
    (t, gcSec() - g0)
  }

  /** JVM-state snapshot for the suite mode: the named session terms an
    * in-suite-vs-isolated delta can be attributed to (JIT compiler CPU,
    * GC, code-cache occupancy/flushes, metaspace, codegen class churn).
    */
  private case class Snap(jitMs: Long, gcMs: Long, ccMb: Double,
      metaMb: Double, classes: Long)

  private def snap(): Snap = {
    val comp = ManagementFactory.getCompilationMXBean
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def used(p: String => Boolean): Double =
      pools.filter(x => p(x.getName)).map(_.getUsage.getUsed).sum / 1e6
    Snap(
      if (comp.isCompilationTimeMonitoringSupported)
        comp.getTotalCompilationTime else -1L,
      gc,
      used(_.startsWith("CodeHeap")),
      used(_ == "Metaspace"),
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }

  /** Task-level truth for superlinear hunts: per-measured-block sums of
    * executor run/GC time, peak execution memory, and spill bytes — a
    * stage whose WALL time grows faster than its executor time is
    * scheduling/underparallelism; growing spill or GC is memory
    * pressure.
    */
  private final class TaskMetrics extends org.apache.spark.scheduler.SparkListener {
    val run = new java.util.concurrent.atomic.AtomicLong
    val gc = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val peak = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        run.addAndGet(m.executorRunTime)
        gc.addAndGet(m.jvmGCTime)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        tasks.incrementAndGet()
      }
    }
    def reset(): Unit =
      Seq(run, gc, spillMem, spillDisk, peak, tasks).foreach(_.set(0L))
    def json: String = {
      // listener bus is async — poll until the task count stops moving
      // (the bus drain API itself is private[spark])
      var last = -1L
      while (tasks.get != last) { last = tasks.get; Thread.sleep(200) }
      s"""{"tasks":${tasks.get},"run_sec":${r3(run.get / 1e3)},"gc_sec":${
        r3(gc.get / 1e3)},"peak_mem_mb":${peak.get / (1024 * 1024)},"spill_mb":${
        (spillMem.get + spillDisk.get) / (1024 * 1024)}}"""
    }
  }

  // ---- suite (ex-SuiteDecompose, r15 Next #1) ------------------------

  private def suite(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val mirrorRef = sys.env.get("SPARK_GRAFT_DECOMP_REF").contains("1")
    val spark = GraftSession.local(cpus)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // warmup pass, exactly as Bench
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val warmEnd = snap()
    val rows = scala.collection.mutable.Map[String,
      List[(Double, Snap, Snap)]]().withDefaultValue(Nil)
    def refRow(): Unit =
      try SparkEntry.queries(ScaleBench.HostRefRow)(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    val passEnds = (1 to runs).map { _ =>
      if (mirrorRef) refRow()
      names.foreach { n =>
        val before = snap()
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
        val el = (System.nanoTime() - t0) / 1e9
        rows(n) = rows(n) :+ ((el, before, snap()))
      }
      if (mirrorRef) refRow()
      snap()
    }
    val qJson = names.map { n =>
      val per = rows(n).map { case (el, b, a) =>
        s"""{"sec":${r3(el)},"jit_ms":${a.jitMs - b.jitMs},"gc_ms":${
          a.gcMs - b.gcMs},"cc_mb":${r3(a.ccMb)},"cc_delta_mb":${
          r3(a.ccMb - b.ccMb)},"meta_mb":${r3(a.metaMb)},"classes":${
          a.classes},"class_delta":${a.classes - b.classes}}"""
      }.mkString("[", ",", "]")
      s""""$n":$per"""
    }.mkString("{", ",", "}")
    def snapJson(s: Snap) =
      s"""{"jit_ms":${s.jitMs},"gc_ms":${s.gcMs},"cc_mb":${r3(s.ccMb)},"meta_mb":${
        r3(s.metaMb)},"classes":${s.classes}}"""
    val totals = (0 until runs).map(i =>
      r3(names.map(n => rows(n)(i)._1).sum)).mkString("[", ",", "]")
    val ccMax = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getMax)
      .sum / 1e6
    println(s"""{"metric":"suite_decompose","sf":"$sfDir","cpus":$cpus,"runs":$runs,"cc_max_mb":${
      r3(ccMax)},"warm_end":${snapJson(warmEnd)},"pass_end":[${
      passEnds.map(snapJson).mkString(",")}],"run_totals":$totals,"queries":$qJson}""")
    spark.stop()
  }

  // ---- isolated (ex-IsolatedRows) ------------------------------------

  private def isolated(queryNames: Array[String]): Unit = {
    require(queryNames.nonEmpty,
      "usage: Decompose isolated <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = GraftSession.local(cpus)
    val unknown = queryNames.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val rows = queryNames.toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // per-query warmup (JIT + session builds)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      s""""$name":{"min":${r3(ts.min)},"median":${
        r3(StreamBench.median(ts))},"runs":[${ts.map(r3).mkString(",")}]}"""
    }
    println(s"""{"metric":"isolated_rows","sf":"$sfDir","cpus":$cpus,"runs":$runs,"queries":{${
      rows.mkString(",")}}}""")
    spark.stop()
  }

  // ---- v7 (ex-V7Decompose, r12 Next #1) ------------------------------

  /** knnGraph stage split. Stages mirror the knnGraph body — keep in
    * sync when that changes: seeds (hash-sample + TakeOrdered collect),
    * lloyd (refinement passes), assign_persist (probeCellsExpr corpus
    * pass), join_only (pair volume without the agg), join_topk (scored
    * join + bounded top-k), plus the direct and collapsed operators
    * end-to-end as reference points.
    */
  private def v7(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/tmp/graft_sfscale")
    val cpus = if (rest.length > 1) rest(1) else "8"
    val spark = GraftSession.local(cpus)
    import org.apache.spark.storage.StorageLevel
    val emb = TestdataAdapter.table(spark, dir, "embeddings")
    val n = emb.count()
    def timed[T](f: => T): (T, Double) = BenchUtil.timed(f)
    // warmup: JIT + file listings (one full DIRECT run, discarded)
    Similarity.knnGraph(emb, k = 5, collapseDuplicates = false).count()

    val idCol = "vec_id"; val vecCol = "embedding"
    val k = 5; val centroidEvery = 50; val iters = 2
    val maxCells = 65536; val nAssign = 16; val spill = 2

    val (seeds, tSeeds) = timed {
      emb.filter(pmod(xxhash64(col(idCol)), lit(centroidEvery)) === 0)
        .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
        .orderBy(xxhash64(col("_id")), col("_id"))
        .limit(maxCells)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    }
    val (cents, tKm) = timed {
      Similarity.kmeansCentroids(emb, centroidEvery, iters, idCol, vecCol,
        maxCells)
    }
    val tLloyd = math.max(tKm - tSeeds, 0.0)

    val probeN = math.max(nAssign, math.min(spill, cents.length))
    val assigned = emb
      .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"),
        Similarity.probeCellsExpr(cents, col(vecCol), probeN).as("_probe"),
        gvec.norm(col(vecCol)).as("_n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, tAssign) = timed(assigned.count())

    val l = assigned.select(
      explode(slice(col("_probe"), 1, nAssign)).as("_cell"),
      col("_id").as("query_id"), col("_v").as("_qv"), col("_n").as("_qn"))
    val r = assigned.select(
      explode(slice(col("_probe"), 1, math.min(spill, cents.length)))
        .as("_cell"),
      col("_id").as("neighbor_id"), col("_v").as("_cv"), col("_n").as("_cn"))
    val (pairs, tJoinOnly) = timed {
      l.join(r.hint("shuffle_hash"), Seq("_cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .count()
    }
    val (_, tTopK) = timed {
      val scored = l.join(r.hint("shuffle_hash"), Seq("_cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(gvec.cosinePre(col("_qv"), col("_cv"), col("_qn"),
            col("_cn")), 6).as("cosine"))
      Similarity.explodeTopK(
        scored.groupBy("query_id")
          .agg(gagg.topKByScore(col("cosine"), col("neighbor_id"), k,
            dedup = true).as("_top"))).count()
    }
    assigned.unpersist(blocking = false)

    val (_, tDirect) = timed(Similarity.knnGraph(emb, k = 5,
      collapseDuplicates = false).count())
    val (_, tFull) = timed(Similarity.knnGraph(emb, k = 5).count())
    val distinct = emb.select(vecCol).distinct().count()

    println(s"""{"metric":"v7_decompose","dir":"$dir","rows":$n,"distinct":$distinct,"cells":${
      cents.length},"pairs":$pairs,"stage_sec":{"seeds":${r3(tSeeds)},"lloyd":${
      r3(tLloyd)},"assign_persist":${r3(tAssign)},"join_only":${
      r3(tJoinOnly)},"join_topk":${r3(tTopK)},"full_direct":${
      r3(tDirect)},"full_collapsed":${r3(tFull)}}}""")
    spark.stop()
  }

  // ---- v16 (ex-V16Decompose, r13 Next #1) ----------------------------

  /** pqTopK stage split. The join_count/adc_sum stages deliberately keep
    * the crossJoin form the committed operator ABANDONED in r14 — they
    * are the evidence of the deferred-encode-per-pair term (now also
    * guarded statically by [[DeferralGuard]]), not the product.
    */
  private def v16(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/tmp/graft_sfscale")
    val cpus = if (rest.length > 1) rest(1) else "8"
    val spark = GraftSession.local(cpus)
    val emb = TestdataAdapter.table(spark, dir, "embeddings")
    val n = emb.count()
    val q = emb.filter(col("vec_id") < 20)
    val metrics = new TaskMetrics
    spark.sparkContext.addSparkListener(metrics)

    // warmup: JIT + codegen + file listings (one full run, discarded)
    Similarity.pqTopK(emb, q, k = 5, m = 8, codebookSize = 256).count()

    val (tSeed, gSeed) = timedGc {
      Similarity.pqCodebooks(emb, m = 8, k = 256)
    }
    var cb: Array[Array[Array[Float]]] = null
    val (tTrain, gTrain) = timedGc {
      cb = Similarity.trainPqCodebooks(emb, m = 8, k = 256, iters = 2)
    }
    val (tEncode, gEncode) = timedGc {
      Similarity.pqEncodeView(emb, cb)
        .agg(sum(element_at(col("codes"), 1))).collect()
    }
    val codes = Similarity.pqEncodeView(emb, cb)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val qv = q.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("_qv"))
    val (tJoin, gJoin) = timedGc {
      codes.crossJoin(broadcast(qv))
        .filter(col("neighbor_id") =!= col("query_id")).count()
    }
    metrics.reset()
    val (tAdcSum, gAdcSum) = timedGc {
      codes.crossJoin(broadcast(qv))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(gvec.pqAdcMicro(col("codes"), col("_qv"), cb)
          .cast("double").as("_s"))
        .agg(sum(col("_s"))).collect()
    }
    val adcSumMetrics = metrics.json
    metrics.reset()
    val (tRetrieve, gRetrieve) = timedGc {
      Similarity.pqTopK(emb, q, k = 5, m = 8, codebookSize = 256,
        codebooks = cb).count()
    }
    val retrieveMetrics = metrics.json
    val (tFull, gFull) = timedGc {
      Similarity.pqTopK(emb, q, k = 5, m = 8, codebookSize = 256).count()
    }

    println(s"""{"metric":"v16_decompose","dir":"$dir","rows":$n,"stage_sec":{"seed":${
      r3(tSeed)},"train_total":${r3(tTrain)},"lloyd":${
      r3(math.max(tTrain - tSeed, 0.0))},"encode":${r3(tEncode)},"join_count":${
      r3(tJoin)},"adc_sum":${r3(tAdcSum)},"retrieve":${
      r3(tRetrieve)},"full":${r3(tFull)}},"stage_gc_sec":{"seed":${
      r3(gSeed)},"train_total":${r3(gTrain)},"encode":${r3(gEncode)},"join_count":${
      r3(gJoin)},"adc_sum":${r3(gAdcSum)},"retrieve":${r3(gRetrieve)},"full":${
      r3(gFull)}},"task_metrics":{"adc_sum":$adcSumMetrics,"retrieve":$retrieveMetrics}}""")
    spark.stop()
  }

  // ---- v17 (ex-V17Decompose, r15) ------------------------------------

  /** ivfPqTopK parameter-isolated variants: v17 − v17_nolloyd = the
    * Lloyd bill; v17_nolloyd − v17b_full = the gate machinery;
    * v17b_full − pq_train_scan ≈ the rerank stage.
    */
  private def v17(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = GraftSession.local(cpus)
    val emb = TestdataAdapter.table(spark, sfDir, "embeddings")
    val qs = emb.filter(col("vec_id") < 20)
    val stages: Seq[(String, () => Long)] = Seq(
      ("pq_train_scan", () =>
        Similarity.pqTopK(emb, qs, k = 5, m = 8, codebookSize = 256)
          .count()),
      ("v17b_full", () =>
        Similarity.ivfPqTopK(emb, qs, k = 5, nProbe = Int.MaxValue,
          m = 8, codebookSize = 256, kmeansIters = 0).count()),
      ("v17_nolloyd", () =>
        Similarity.ivfPqTopK(emb, qs, k = 5, m = 8, codebookSize = 256,
          kmeansIters = 0, queryCountHint = 20).count()),
      ("v17", () =>
        Similarity.ivfPqTopK(emb, qs, k = 5, m = 8, codebookSize = 256,
          queryCountHint = 20).count()))
    val out = stages.map { case (name, fn) =>
      fn() // warmup
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }
      s""""$name":{"min":${r3(ts.min)},"runs":[${ts.map(r3).mkString(",")}]}"""
    }
    println(s"""{"metric":"v17_decompose","sf":"$sfDir","cpus":$cpus,"runs":$runs,"stages":{${
      out.mkString(",")}}}""")
    spark.stop()
  }

  // ---- d20 (r16 optimization round) -----------------------------------

  /** prefixJaccardPairs stage split (mirrors the Dedup body — keep in
    * sync): toks persist, df table, ranked (the per-doc (df,tok) sort),
    * prefix explode, candidate self-join + distinct (twice: with the
    * prefix subtree recomputed per side, as without its persist, and with
    * it persisted), verification joins + merge-scan intersect over the
    * materialized candidates, and the committed operator end-to-end.
    * Intermediate stages run through the noop sink (guide §1.4) so
    * column pruning can't hollow them out.
    */
  private def d20(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    import org.apache.spark.storage.StorageLevel
    import graft.functions.{text => gtext}
    import graft.pipeline.{Dedup, TextAnalysis}
    val docs = TestdataAdapter.table(spark, sfDir, "documents")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup: one full run, discarded (JIT + listings + codegen)
    Dedup.prefixJaccardPairs(docs).count()

    val threshold = 0.8
    val tSlack = threshold - 1e-6
    val toks = docs.select(col("doc_id"),
        array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("_t"))
      .withColumn("_n", size(col("_t")))
      .filter(col("_n") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, tToks) = BenchUtil.timed(toks.count())
    val dfTable = toks.select(explode(col("_t")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_df"))
    val (_, tDf) = BenchUtil.timed(noop(dfTable))
    val ranked = toks
      .select(col("doc_id"), col("_n"), explode(col("_t")).as("_tok"))
      .join(dfTable, Seq("_tok"))
      .groupBy("doc_id", "_n")
      .agg(array_sort(collect_list(struct(col("_df"), col("_tok")))).as("_r"))
    val (_, tRanked) = BenchUtil.timed(noop(ranked))
    val prefix = ranked.select(col("doc_id"), col("_n"),
        explode(slice(col("_r"), lit(1),
          (col("_n") - ceil(col("_n") * lit(tSlack)) + 1).cast("int"))).as("_p"))
      .select(col("doc_id"), col("_n"), col("_p._tok").as("_tok"))
    val (_, tPrefix) = BenchUtil.timed(noop(prefix))
    def candOf(p: org.apache.spark.sql.DataFrame) = p
      .select(col("_tok"), col("doc_id").as("a"), col("_n").as("_na"))
      .join(p.select(col("_tok"), col("doc_id").as("b"),
        col("_n").as("_nb")), Seq("_tok"))
      .filter(col("a") < col("b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          greatest(col("_na"), col("_nb")).cast("double") * tSlack - 1e-9)
      .select("a", "b").distinct()
    val (nCand, tCandLazy) = BenchUtil.timed(candOf(prefix).count())
    // positional-filter variant (the committed r16 shape): prefix rows
    // carry their 0-based rank, matches prune on the PPJoin overlap bound
    // before the distinct — count drop = the filter's candidate cut
    val prefixPos = ranked.select(col("doc_id"), col("_n"),
        posexplode(slice(col("_r"), lit(1),
          (col("_n") - ceil(col("_n") * lit(tSlack)) + 1).cast("int"))))
      .select(col("doc_id"), col("_n"), col("pos").as("_i"),
        col("col._tok").as("_tok"))
    def candPosOf(p: org.apache.spark.sql.DataFrame) = p
      .select(col("_tok"), col("doc_id").as("a"), col("_n").as("_na"),
        col("_i").as("_ia"))
      .join(p.select(col("_tok"), col("doc_id").as("b"),
        col("_n").as("_nb"), col("_i").as("_ib")), Seq("_tok"))
      .filter(col("a") < col("b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          greatest(col("_na"), col("_nb")).cast("double") * tSlack - 1e-9 &&
        least(col("_na") - col("_ia"), col("_nb") - col("_ib"))
          .cast("double") >=
          (col("_na") + col("_nb")).cast("double") *
            lit(tSlack / (1.0 + tSlack)) - 1e-9)
      .select("a", "b").distinct()
    val (nCandPos, tCandPos) = BenchUtil.timed(candPosOf(prefixPos).count())
    // posting-list form: ONE consumption of the prefix stream (no self-
    // join, no persist, no broadcast) — group per token, explode the
    // i<j combinations within each posting list
    val candPostings = prefix
      .groupBy("_tok")
      .agg(collect_list(struct(col("doc_id"), col("_n"))).as("_ps"))
      .filter(size(col("_ps")) >= 2)
      .select(posexplode(col("_ps")).as(Seq("_i", "_pa")), col("_ps"))
      .select(col("_pa"),
        explode(slice(col("_ps"), col("_i") + lit(2),
          size(col("_ps")))).as("_pb"))
      .filter(
        least(col("_pa._n"), col("_pb._n")).cast("double") >=
          greatest(col("_pa._n"), col("_pb._n")).cast("double") * tSlack
            - 1e-9)
      .select(least(col("_pa.doc_id"), col("_pb.doc_id")).as("a"),
        greatest(col("_pa.doc_id"), col("_pb.doc_id")).as("b"))
      .distinct()
    val (nCandP, tCandPost) = BenchUtil.timed(candPostings.count())
    require(nCandP == nCand, s"posting-list candidates $nCandP != $nCand")
    val prefixP = prefix.persist(StorageLevel.MEMORY_AND_DISK)
    prefixP.count()
    val (_, tCandPersisted) = BenchUtil.timed(candOf(prefixP).count())
    val cand = candOf(prefixP)
      .persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    val inter = gtext.sortedIntersectCount(col("_ta"), col("_tb"))
      .cast("double")
    val (_, tVerify) = BenchUtil.timed(noop(cand
      .join(toks.select(col("doc_id").as("a"), col("_t").as("_ta"),
        col("_n").as("_na")), Seq("a"))
      .join(toks.select(col("doc_id").as("b"), col("_t").as("_tb"),
        col("_n").as("_nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(inter / (col("_na") + col("_nb") - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)))
    Seq(toks, prefixP, cand).foreach(_.unpersist(blocking = false))
    val (_, tFull) = BenchUtil.timed(Dedup.prefixJaccardPairs(docs).count())
    println(s"""{"metric":"d20_decompose","sf":"$sfDir","cpus":$cpus,"cand":$nCand,"cand_positional":$nCandPos,"stage_sec":{"toks":${
      r3(tToks)},"df_table":${r3(tDf)},"ranked":${r3(tRanked)},"prefix":${
      r3(tPrefix)},"cand_lazy":${r3(tCandLazy)},"cand_pos":${
      r3(tCandPos)},"cand_postings":${
      r3(tCandPost)},"cand_persisted":${
      r3(tCandPersisted)},"verify":${r3(tVerify)},"full":${r3(tFull)}}}""")
    spark.stop()
  }

  // ---- t29 (r16 optimization round) ------------------------------------

  /** dsirWeights stage split, reconstructed from public expressions
    * (mirrors TextAnalysis.dsirFeatures/dsirLogRatios — keep in sync):
    * tokenize+gramCounts explode, the md5 bucket projection, the
    * per-(doc,lang,b) aggregate (persisted, as the operator does), the
    * ≤buckets log-ratio table, the scoring join + per-doc sum, and the
    * committed operator end-to-end.
    */
  private def t29(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    import org.apache.spark.storage.StorageLevel
    import graft.functions.{text => gtext}
    import graft.pipeline.TextAnalysis
    val docs = TestdataAdapter.table(spark, sfDir, "documents")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    TextAnalysis.dsirWeights(docs).count() // warmup

    val buckets = 4096
    val toks = docs.select(col("doc_id"), col("lang"),
      graft.pipeline.TextAnalysis.tokens(col("text")).as("_t"))
    val grams = toks.select(col("doc_id"), col("lang"),
      explode(gtext.gramCounts(col("_t"))).as("_tc"))
    val (_, tGrams) = BenchUtil.timed(noop(grams))
    val bucketed = grams.select(col("doc_id"), col("lang"),
      (conv(substring(md5(col("_tc.term")), 1, 8), 16, 10).cast("long")
        % buckets).as("b"),
      col("_tc.cnt").as("_c"))
    val (_, tBucket) = BenchUtil.timed(noop(bucketed))
    val dbL = bucketed.groupBy("doc_id", "lang", "b")
      .agg(sum(col("_c")).cast("long").as("n"))
    val (_, tDb) = BenchUtil.timed(noop(dbL))
    val db = dbL.persist(StorageLevel.MEMORY_AND_DISK)
    val (_, tDbPersist) = BenchUtil.timed(db.count())
    // one-pass cr/ct aggregate — mirrors dsirLogRatios' r16 form
    val counts = db.groupBy("b").agg(sum("n").as("cr"),
      sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum("cr").as("_r"), sum("ct").as("_t"))
    val lr = counts
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(1e6) * log(
          ((col("ct") + 1).cast("double") * (col("_r") + buckets).cast("double"))
            / ((col("cr") + 1).cast("double")
              * (col("_t") + buckets).cast("double"))))
          .cast("long").as("lr_c6"))
    val (_, tLr) = BenchUtil.timed(noop(lr))
    val (_, tScore) = BenchUtil.timed(noop(
      db.join(broadcast(lr), Seq("b"))
        .groupBy("doc_id")
        .agg(sum(col("n") * col("lr_c6")).cast("long").as("dsir_c6"),
          sum("n").cast("long").as("n_feats"))))
    db.unpersist(blocking = false)
    val (_, tFull) = BenchUtil.timed(TextAnalysis.dsirWeights(docs).count())
    println(s"""{"metric":"t29_decompose","sf":"$sfDir","cpus":$cpus,"stage_sec":{"grams":${
      r3(tGrams)},"bucketed":${r3(tBucket)},"db_agg":${r3(tDb)},"db_persist":${
      r3(tDbPersist)},"log_ratios":${r3(tLr)},"score":${r3(tScore)},"full":${
      r3(tFull)}}}""")
    spark.stop()
  }

  // ---- hot (ex-V16Hot) ------------------------------------------------

  private def hot(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/tmp/graft_sfscale100")
    val spark = GraftSession.local("8")
    val emb = TestdataAdapter.table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 256, iters = 2)
    while (true)
      Similarity.pqTopK(emb, q, k = 5, m = 8, codebookSize = 256,
        codebooks = cb).count()
  }
}
