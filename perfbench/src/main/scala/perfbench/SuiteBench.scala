package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.Random

/** `suite`: registered `SparkEntry.queries` rows on generated tables, in
  * one local session — the batch path `graft.Bench` runs. Each row is
  * timed with full materialisation (the `noop` sink), so Catalyst cannot
  * prune the work away as it can under `count()`.
  *
  * The rows are a fixed sample, one per operator family: all 158 rows
  * take over two minutes cold on a 4-core host even at the smallest
  * scale, more than one run may take. `d20_prefix_jaccard`, the costliest
  * row of the full suite, is kept.
  */
object SuiteBench {
  val Rows: Vector[String] = Vector("a2_match_results", "d20_prefix_jaccard",
    "e2_tumbling_window", "j1_inner_join", "k1_composite_key", "m1_media_decode",
    "p5_case_when", "s10_json_serde", "t8_tfidf", "v1_brute_cosine_topk", "x6_salted_join")

  def family(row: String): String = row.take(1)

  def run(spark: SparkSession, a: Args, tracer: Tracer): Outcome = {
    require(a.data.nonEmpty, "suite needs --data")
    val missing = Rows.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"rows not registered: $missing")
    val order = new Random(a.seed).shuffle(Rows)

    val problems = mutable.ArrayBuffer.empty[String]
    def materialise(row: String): Unit =
      SparkEntry.queries(row)(spark, a.data).write.format("noop").mode("overwrite").save()

    // set-up: the first pass, which pays the per-session ingests, JIT and
    // codegen that later passes reuse (one pass: it cannot be repeated cold)
    Main.note("set-up pass")
    val broken = mutable.Set.empty[String]
    val setupStart = System.nanoTime()
    order.foreach { r =>
      try materialise(r)
      catch { case scala.util.control.NonFatal(e) =>
        broken += r; problems += s"$r failed: ${String.valueOf(e.getMessage).take(200)}" }
    }
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val live = order.filterNot(broken)
    val probes = if (a.trace) Some(new Probes(spark)) else None
    Thread.sleep(200)
    probes.foreach { p => p.task.snapshot(); p.query.drain() }

    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    // timed read passes in the seeded order: at least three, for the run
    Main.note("read passes")
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val tStart = System.nanoTime()
    val readEnd = tStart + a.seconds * 1000000000L
    var passes = 0
    while (passes < 3 || System.nanoTime() < readEnd) {
      live.foreach { r =>
        val t0 = System.nanoTime()
        materialise(r)
        val t1 = System.nanoTime()
        times.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
        spans += ((r, t0, t1))
      }
      passes += 1
    }
    val readWall = (System.nanoTime() - tStart) / 1e9
    Thread.sleep(200)
    val ts = probes.map(_.task.snapshot())
    val qs = probes.map(_.query.drain()).getOrElse(Vector.empty)

    // two timed write passes: each result written as parquet, as
    // `graft.Verify` does — the dump the oracle compare reads
    Main.note(s"$passes read passes done; write passes")
    val writeMs = (1 to 2).map { _ =>
      live.map { r =>
        val t0 = System.nanoTime()
        SparkEntry.queries(r)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${a.work}/out/$r")
        Main.ms(t0, System.nanoTime())
      }
    }.transpose.map(Stats.median)
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb
    val heapAfterGc = Jvm.heapAfterGcMb()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => live.contains(k) }
      .map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "out", "oracle_sql.json"),
      oracle)

    val perRow = live.map(r => r -> Stats.median(times(r).toSeq)).toMap
    Main.note(perRow.toSeq.sortBy(-_._2).map { case (r, t) => f"$r=${t * 1000}%.0f" }
      .mkString("row ms: ", " ", ""))
    val total = perRow.values.sum
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("heap_after_gc_mb", heapAfterGc, "MB"),
      // rows differ in cost: order statistics over eleven rows would sit on
      // boundaries between rows, so take the typical row and the slowest
      Metric("write_ms", Stats.geomean(writeMs), "ms"),
      Metric("read_ms", Stats.geomean(perRow.values.toSeq) * 1000, "ms"),
      Metric("read_tail_ms", perRow.values.max * 1000, "ms"),
      Metric("ops_per_s", live.size / total, "1/s"))

    val layers =
      if (!a.trace) Nil
      else {
        spans.foreach { case (r, t0, t1) =>
          val root = tracer.add("suite.query", t0, t1, 0L, r)
          ts.get.tasks.filter(t => t.launchNs >= t0 && t.finishNs <= t1)
            .foreach(t => tracer.add("spark.task", t.launchNs, t.finishNs, root, r))
        }
        def phase(k: String) = qs.map(_.phasesMs.getOrElse(k, 0L).toDouble).sum / passes
        probes.get.detach()
        Seq(
          Metric("suite.total_s", total, "s"),
          Metric("suite.rows", live.size.toDouble, "count"),
          Metric("suite.passes", passes.toDouble, "count"),
          Metric("spark.analysis_ms", phase("analysis"), "ms"),
          Metric("spark.optimization_ms", phase("optimization"), "ms"),
          Metric("spark.planning_ms", phase("planning"), "ms"),
          Metric("spark.exchanges", qs.map(_.exchanges.toDouble).sum / passes, "count"),
          Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
          Metric("jvm.heap_peak_mb", heapPeak, "MB")) ++
          "adejkmpstvx".map(f => Metric(s"suite.fam.${f}_s",
            perRow.collect { case (r, t) if family(r) == f.toString => t }.sum, "s")) ++
          taskMetrics(ts.get, readWall, passes)
      }
    Outcome(live.size.toLong * passes, broken.size.toLong, problems.toSeq, e2e, layers)
  }

  /** Spark execution per unit of work: job, stage and task counts and
    * task metrics divided by `per`, and the share of `wallS` in which no
    * task was running (the driver alone was busy).
    */
  def taskMetrics(s: TaskProbe.Snapshot, wallS: Double, per: Int = 1): Seq[Metric] = {
    val busy = Trace.unionLength(s.tasks.map(t => (t.launchNs, t.finishNs))) / 1e9
    Seq(
      Metric("spark.jobs", s.jobs.toDouble / per, "count"),
      Metric("spark.stages", s.stages.toDouble / per, "count"),
      Metric("spark.tasks", s.tasks.size.toDouble / per, "count"),
      Metric("spark.task_ms", s.tasks.map(_.runMs).sum.toDouble / per, "ms"),
      Metric("spark.driver_only_frac", if (wallS > 0) math.max(0.0, 1 - busy / wallS) else 0.0,
        "ratio"),
      Metric("spark.shuffle_read_bytes", s.tasks.map(_.shuffleRead).sum.toDouble / per, "bytes"),
      Metric("spark.shuffle_write_bytes", s.tasks.map(_.shuffleWrite).sum.toDouble / per, "bytes"),
      Metric("spark.spill_bytes", s.tasks.map(_.spill).sum.toDouble / per, "bytes"),
      Metric("spark.input_bytes", s.tasks.map(_.input).sum.toDouble / per, "bytes"))
  }
}
