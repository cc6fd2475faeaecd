package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.Bridge

import Profile._

/** What each registered query costs, layer by layer, from the runs that
  * were actually timed: wall time, JVM deltas, and for the fastest run
  * every SQL execution it ran with Spark's planning phases, its plan
  * shape and its stages. [[Bench]]'s published line is a view of it
  * ([[benchLine]]).
  *
  * Protocol: one untimed warm-up pass over the queries (JIT, codegen
  * cache, file listings and per-session ingest builds are then paid),
  * then `passes.size` timed passes in alphabetical order. Each pass times
  * two host-reference probes first and last: the single-thread FP spin
  * (`cpu_factor`, [[BenchUtil.cpuSpin]]) and the fixed shuffle row
  * ([[ScaleBench.HostRefRow]], `host_factor`). The timed region of a run
  * is only `fn(spark, sfDir).count()`; the listener drains and all
  * bookkeeping stay outside it.
  *
  * Publication form: per row the MINIMUM over the passes that succeeded.
  * Timing noise on a deterministic recomputation is additive, so the
  * minimum estimates the steady state under any one-sided contamination
  * (r14: host load decaying across passes read five CPU-bound rows at
  * 2-8× their idle-host values in the median, SUITEDECOMP_r15). The
  * per-row medians stay alongside (`value_median` is the sum of medians,
  * the pre-r15 `value`), and rows whose median exceeds twice the minimum
  * by more than 0.25 s are listed in `skew_rows`: some window was loaded.
  * A row that threw in any pass keeps its first error and leaves the
  * totals, so a regression can never masquerade as a speedup.
  *
  * Layers come from Spark, not from replays of operator bodies. The
  * executions are the named, successful ones [[Executions.capture]]
  * reports, read from the same execution-end events, which also carry
  * the `spark.sql.execution.id` their jobs are tagged with (in Spark 4.1
  * that id is not `QueryExecution.id`). Each stage is labelled with the
  * plan nodes whose SQL-metric accumulators it updated (the join Spark's
  * SQL UI makes), plus the plan of any cached relation it built. Stages
  * of jobs outside those executions (reader schema jobs, RDD-API loops)
  * land in `unattributed`. Per-query task totals are summed from
  * task-end events, independently of the per-stage records.
  *
  * `host_factor` divides by `hostAnchor`; with none (a [[ScaleBench]]
  * replica count never anchored) it is null, never a guess.
  *
  * Usage: runMain graft.Profile [query ...]   (all queries by default)
  * Reads SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 4) and
  * SPARK_GRAFT_RUNS (default 3); prints one `"metric":"profile"` line
  * with the Bench line embedded under `"bench"`.
  */
final case class Profile(sf: String, cpus: Int, names: Seq[String],
    passes: Seq[Pass], hostAnchor: Option[Double] = Some(HostAnchorSf01)) {

  private def rows(i: Int): Seq[Run] = passes.map(_.rows(i))

  /** Number of rows that threw in at least one pass. */
  def nErr: Int = names.indices.count(i => rows(i).exists(_.err.nonEmpty))

  /** The `graft.Bench` line: keys and order are a published contract. */
  def benchLine: String = {
    val results = names.indices.map { i =>
      val row = rows(i)
      val ts = usable(row).map(_.sec)
      (names(i), r3(ts.min), r3(median(ts)), row.flatMap(_.err).headOption)
    }
    def rowsJson(pick: ((String, Double, Double, Option[String])) => Double) =
      results.map {
        case r @ (k, _, _, None) => s""""$k":${pick(r)}"""
        case r @ (k, _, _, Some(e)) =>
          s""""$k":{"sec":${pick(r)},"err":"${esc(e)}"}"""
      }.mkString("{", ",", "}")
    val ok = results.collect { case (_, v, _, None) => v }
    val okMed = results.collect { case (_, _, m, None) => m }
    val skewRows = results.collect {
      case (k, mn, md, None) if md > 2 * mn && md - mn > 0.25 => s""""$k""""
    }
    val runTotals = passes.map(p => r3(p.rows.filter(_.err.isEmpty).map(_.sec).sum))
    val refs = passes.flatMap(_.hostRefs.filter(_.err.isEmpty).map(_.sec))
    val factor = hostAnchor.filter(_ => refs.nonEmpty)
      .fold("null")(a => r3(median(refs) / a).toString)
    s"""{"metric":"total","value":${r3(ok.sum)},"unit":"sec","value_median":${
      r3(okMed.sum)},"queries":${rowsJson(_._2)},"queries_median":${
      rowsJson(_._3)},"skew_rows":[${skewRows.mkString(",")}],"n_ok":${
      ok.size},"n_err":${results.count(_._4.isDefined)},"sf":"$sf","runs":${
      passes.size},"per_row":"min","run_totals":[${runTotals.mkString(",")}],"host_ref":{"name":"${
      ScaleBench.HostRefRow}","runs":[${refs.map(r3).mkString(",")}]},"host_factor":$factor,${
      BenchUtil.cpuJson(passes.flatMap(_.cpu))}}"""
  }

  /** The `graft.Profile` line. */
  def json: String = {
    val qs = names.indices.map { i =>
      val row = rows(i)
      val ts = usable(row).map(_.sec)
      def arr(f: Run => Any) = row.map(f).mkString("[", ",", "]")
      s""""${names(i)}":{"min":${r3(ts.min)},"median":${r3(median(ts))},"runs":${
        arr(r => r3(r.sec))},"jit_ms":${arr(_.jvm.jitMs)},"gc_ms":${
        arr(_.jvm.gcMs)},"classes":${arr(_.jvm.classes)},${
        row.flatMap(_.err).headOption.fold("")(e => s""""err":"${esc(e)}",""")}"min_run":${
        usable(row).minBy(_.sec).json}}"""
    }
    s"""{"metric":"profile","sf":"$sf","cpus":$cpus,"runs":${passes.size},"bench":$benchLine,"queries":${
      qs.mkString("{", ",", "}")}}"""
  }
}

object Profile {

  /** Calm-window anchor for the sf0.1 host-reference readings: median of
    * the in-pass x6_salted_join timings from the r13 development run
    * (2026-08-16, idle host, cpus=4). Same contract as
    * ScaleBench.HostAnchor: factor ≈ 1 means comparable window; ≳ 2.5
    * sustained means the window is throttled and cross-round absolute
    * comparisons are invalid. `tools/recompute_host_factor.py` re-derives
    * the field from the artifact's own raw readings if this anchor is
    * ever corrected.
    */
  private[graft] val HostAnchorSf01 = 0.55

  /** Task totals of a stage, a query run, or a whole bucket. */
  final case class Work(tasks: Long = 0, taskMs: Long = 0, shuffleRead: Long = 0,
      shuffleWrite: Long = 0, spill: Long = 0, scanBytes: Long = 0) {
    def +(o: Work): Work = Work(tasks + o.tasks, taskMs + o.taskMs,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill, scanBytes + o.scanBytes)
    def json: String = s""""tasks":$tasks,"task_ms":$taskMs,"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,"spill":$spill,"scan_bytes":$scanBytes"""
  }

  object Work {
    def of(tasks: Long, m: TaskMetrics): Work =
      if (m == null) Work(tasks)
      else Work(tasks, m.executorRunTime,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  /** One completed stage and the plan nodes it executed, in plan order. */
  final case class Stage(id: Int, work: Work, nodes: Seq[String]) {
    def json: String =
      s"""{"id":$id,${work.json},"nodes":[${nodes.map(n => s""""${esc(n)}"""").mkString(",")}]}"""
  }

  /** One SQL execution, summarised as soon as its query finished. */
  final case class Execution(action: String, phasesMs: Seq[(String, Long)],
      exchanges: Map[String, Int], joins: Map[String, Int],
      codegenFallback: Seq[String], broadcastBytes: Long, jobs: Int,
      stages: Seq[Stage]) {
    def json: String = {
      def counts(m: Map[String, Int]) =
        m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"action":"${esc(action)}",${phasesMs.map { case (p, ms) => s""""${p}_ms":$ms""" }
        .mkString(",")},"jobs":$jobs,"exchanges":${counts(exchanges)},"joins":${
        counts(joins)},"codegen_fallback":[${codegenFallback.map(n => s""""$n"""").mkString(",")}],"broadcast":$broadcastBytes,"stages":${
        stages.map(_.json).mkString("[", ",", "]")}}"""
    }
  }

  /** JVM counters: JIT compile ms, GC ms, classes loaded since start. */
  final case class Jvm(jitMs: Long = 0, gcMs: Long = 0, classes: Long = 0) {
    def -(o: Jvm): Jvm = Jvm(jitMs - o.jitMs, gcMs - o.gcMs, classes - o.classes)
  }

  object Jvm {
    def now(): Jvm = Jvm(
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(b.getCollectionTime, 0L)).sum,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }

  /** One timed call of a query: wall seconds, its error if it threw, and
    * the layers under it. `work` and `jobs` count everything the call
    * ran; its stages are split between `executions` and `unattributed`.
    */
  final case class Run(sec: Double, err: Option[String], jvm: Jvm = Jvm(),
      jobs: Int = 0, work: Work = Work(), executions: Seq[Execution] = Nil,
      unattributed: Seq[Stage] = Nil) {
    def stages: Seq[Stage] = executions.flatMap(_.stages) ++ unattributed
    def json: String = {
      val phases = executions.flatMap(_.phasesMs).groupMapReduce(_._1)(_._2)(_ + _)
      s"""{"sec":${r3(sec)},"jobs":$jobs,"stages":${stages.size},${work.json},"broadcast":${
        executions.map(_.broadcastBytes).sum},${Phases.map(p =>
        s""""${p}_ms":${phases.getOrElse(p, 0L)}""").mkString(",")},"executions":${
        executions.map(_.json).mkString("[", ",", "]")},"unattributed":${
        unattributed.map(_.json).mkString("[", ",", "]")}}"""
    }
  }

  /** One timed pass: the rows in name order, the two host-reference runs,
    * and the two spin readings.
    */
  final case class Pass(rows: Seq[Run], hostRefs: Seq[Run], cpu: Seq[Double])

  private val Phases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private def r3(x: Double): Double = BenchUtil.r3(x)
  private def median(xs: Seq[Double]): Double = StreamBench.median(xs)

  /** The runs that succeeded, or all of them when none did. */
  private def usable(row: Seq[Run]): Seq[Run] = {
    val good = row.filter(_.err.isEmpty)
    if (good.nonEmpty) good else row
  }

  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    // validate before booting a session
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val p = run(if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq)
    println(p.json)
    if (p.nErr > 0) sys.exit(1)
  }

  /** Profile the named queries in a fresh [[GraftSession]] on
    * SPARK_GRAFT_SF_DIR with SPARK_GRAFT_CPUS cores and SPARK_GRAFT_RUNS
    * timed passes. Unknown names are rejected before the session starts.
    */
  def run(names: Seq[String]): Profile = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    try run(spark, sfDir, envRuns, names) finally spark.stop()
  }

  /** SPARK_GRAFT_RUNS (default 3): the number of timed passes. */
  private[graft] def envRuns: Int = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    runs
  }

  /** Profile `names`, each looked up in `queries`, which must also hold
    * [[ScaleBench.HostRefRow]].
    */
  private[graft] def run(spark: SparkSession, sfDir: String, runs: Int,
      names: Seq[String], queries: Map[String, (SparkSession, String) => DataFrame]
        = SparkEntry.queries): Profile = {
    val sorted = names.distinct.sorted
    // NonFatal only: after an OOM or linkage error the JVM is unreliable
    // and the run must fail rather than publish its numbers
    (sorted :+ ScaleBench.HostRefRow).distinct.sorted.foreach { n =>
      try queries(n)(spark, sfDir).count()
      catch { case NonFatal(_) => () }
    }
    // registered after the warm-up, so no warm-up plan is held
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      def once(name: String): Run = runOnce(spark, sfDir, rec, queries(name))
      // a mid-pass throttle skews the closing probes away from the opening ones
      val passes = (1 to runs).map { _ =>
        val cpuFirst = BenchUtil.cpuSpin()
        val refFirst = once(ScaleBench.HostRefRow)
        val rows = sorted.map(once)
        val refLast = once(ScaleBench.HostRefRow)
        Pass(rows, Seq(refFirst, refLast), Seq(cpuFirst, BenchUtil.cpuSpin()))
      }
      Profile(sfDir, spark.sparkContext.defaultParallelism, sorted, passes)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private def runOnce(spark: SparkSession, sfDir: String, rec: Recorder,
      fn: (SparkSession, String) => DataFrame): Run = {
    Executions.drain(spark)
    rec.take() // events of earlier actions
    val j0 = Jvm.now()
    val t0 = System.nanoTime()
    val err = try { fn(spark, sfDir).count(); None }
              catch { case NonFatal(e) => Some(e.toString.take(200)) }
    val sec = (System.nanoTime() - t0) / 1e9
    val jvm = Jvm.now() - j0
    Executions.drain(spark)
    val (jobs, stages, ends, work) = rec.take()
    // a stage can appear in several jobs (a reused shuffle); it ran in
    // the first
    val jobOfStage = jobs.reverse.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val execOfJob = jobs.map(j => j.jobId -> executionId(j)).toMap
    val ran = stages.groupBy(s =>
      jobOfStage.get(s.stageId).flatMap(execOfJob).getOrElse(-1L))
    val done = ends.flatMap(Bridge.namedSuccess)
    val executions = done.map { case (id, action, qe) =>
      summarise(action, qe, jobs.count(j => executionId(j).contains(id)),
        ran.getOrElse(id, Nil))
    }
    val summarised = done.map(_._1).toSet
    val unattributed = ran.collect { case (id, ss) if !summarised(id) => ss }.flatten
      .toSeq.sortBy(_.stageId).map(s => Stage(s.stageId, stageWork(s), Nil))
    Run(sec, err, jvm, jobs.size, work, executions, unattributed)
  }

  private def executionId(j: SparkListenerJobStart): Option[Long] =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)

  private def stageWork(s: StageInfo): Work = Work.of(s.numTasks, s.taskMetrics)

  private def summarise(action: String, qe: QueryExecution, jobs: Int,
      stages: Seq[StageInfo]): Execution = {
    val nodes = planNodes(qe.executedPlan)
    val caches = cachesIn(nodes)
    // a cached relation's plan runs in the first stage that reads it
    val runnable = nodes ++ caches.flatMap(c => planNodes(c._2))
    val phases = qe.tracker.phases
    def tally(names: Seq[String]) = names.groupMapReduce(identity)(_ => 1)(_ + _)
    Execution(action,
      Phases.map(p => p -> phases.get(p).fold(0L)(_.durationMs)),
      tally(nodes.collect { case e: Exchange => e.nodeName }),
      tally(nodes.collect { case j: BaseJoinExec => j.nodeName }),
      nodes.flatMap(_.expressions.flatMap(_.collect {
        case c: CodegenFallback => c.prettyName })).distinct,
      nodes.collect { case b: BroadcastExchangeExec => b.metrics("dataSize").value }.sum,
      jobs,
      stages.sortBy(_.stageId).map { s =>
        val accs = s.accumulables.keySet
        // a stage that builds a cache may report none of its plan's
        // metrics; it is known by the cached RDD's name
        val built = caches.filter(c => s.rddInfos.exists(_.name == c._1))
          .flatMap(c => planNodes(c._2))
        Stage(s.stageId, stageWork(s), (runnable.filter(_.metrics.values.exists(m =>
          accs(m.id))) ++ built).map(_.nodeName).distinct)
      })
  }

  /** (RDD name, plan) of the cached relations a plan reads, including
    * those their plans read.
    */
  private def cachesIn(nodes: Seq[SparkPlan]): Seq[(String, SparkPlan)] =
    nodes.collect { case m: InMemoryTableScanExec =>
      m.relation.cacheBuilder.cachedName -> m.relation.cacheBuilder.cachedPlan
    }.flatMap(c => c +: cachesIn(planNodes(c._2)))

  /** [[Executions.nodes]] plus the plans of subqueries, which run in
    * their parent's execution.
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    Executions.nodes(p).flatMap(n => n +: n.subqueries.flatMap(planNodes))

  /** Job starts, completed stages, ended SQL executions and task totals
    * since the last `take`.
    */
  private final class Recorder extends SparkListener {
    private val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    private val stages = new ConcurrentLinkedQueue[StageInfo]
    private val ends = new ConcurrentLinkedQueue[SparkListenerSQLExecutionEnd]
    private val work = new AtomicReference(Work())
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      work.updateAndGet(_ + Work.of(1, e.taskMetrics))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => ends.add(end)
      case _ =>
    }
    def take(): (Seq[SparkListenerJobStart], Seq[StageInfo],
        Seq[SparkListenerSQLExecutionEnd], Work) = {
      def poll[T](q: ConcurrentLinkedQueue[T]) =
        Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
      (poll(jobs), poll(stages), poll(ends), work.getAndSet(Work()))
    }
  }
}
