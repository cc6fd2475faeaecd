package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan

/** Shuffle/spill telemetry main: run every registered query once at
  * SPARK_GRAFT_SF_DIR and print ONE JSON line with per-query aggregate
  * metrics — shuffle bytes written, shuffle bytes read, broadcast build
  * size, spill, and input bytes scanned.
  *
  * Why it exists: the engine's 100 TB claims are plan-shape claims
  * ("corpus never shuffles", "exchange carries only aggregate buffers",
  * "broadcast only dimension-sized relations"). `PLANS_r*.txt` shows the
  * shapes; this artifact shows the measured BYTES behind them at the
  * bench SF, so a corpus-sized exchange can't hide behind a
  * plausible-looking tree.
  *
  * Metrics come from a stage-level [[SparkListener]], NOT from walking the
  * final DataFrame's executed plan: operators built through
  * `Scratch.materializeThenFree` run their real work inside the query
  * constructor (localCheckpoint), so the returned plan is only a scan of
  * checkpointed blocks and its SQLMetrics are zero (round-9 advice). Task
  * metrics accumulated across EVERY job between query start and the drain
  * barrier capture that work, plus driver-side iteration loops (k-means)
  * the final plan never shows. Broadcast dataSize is not a task metric, so
  * it is summed from each SQL execution's plan, captured by
  * [[Executions.capture]] (both listeners share the live bus, so one
  * drain barrier covers both). Driver-style contract: one JSON line,
  * per-query objects, queries that throw are recorded and non-zero-exit.
  */
object ShuffleReport {

  /** Broadcast build bytes in an executed plan. */
  private def broadcastBytes(p: SparkPlan): Long =
    Executions.nodes(p).collect {
      case e if e.nodeName.contains("BroadcastExchange") =>
        e.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.filter(_ > 0).sum

  /** Running task-metric totals since session start; per-query numbers
    * are deltas between drained snapshots.
    */
  private final class Totals {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
    def snapshot: (Long, Long, Long, Long) =
      (shuffleWrite.get, shuffleRead.get, spill.get, input.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)

    val totals = new Totals
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          totals.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          totals.shuffleRead.addAndGet(
            m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
          totals.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          totals.input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })
    def drained: (Long, Long, Long, Long) = {
      Executions.drain(spark)
      totals.snapshot
    }

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
    // optional args: restrict to the named queries (spot-check mode) — a
    // typo'd name must fail loudly, not produce an empty "green" report
    val wanted = args.toSet
    require(wanted.forall(SparkEntry.queries.contains),
      s"unknown queries: ${wanted.filterNot(SparkEntry.queries.contains)}")
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n) }
    val rows = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val before = drained
        val t0 = System.nanoTime()
        // time includes fn(): materializing operators do their real work
        // in the constructor, and that work is part of the query's cost
        val ((df, sec), inner) = Executions.capture(spark) {
          val df = fn(spark, sfDir)
          // execute THIS DataFrame's own QueryExecution — df.count() would
          // plan and run a separate aggregate query
          df.queryExecution.toRdd.count()
          (df, (System.nanoTime() - t0) / 1e9)
        }
        // toRdd bypasses Dataset.withAction, so the capture never sees
        // THIS (top-level) plan — its broadcast exchanges would report 0
        // (a BroadcastHashJoin final plan, e.g. j1, showed broadcast:0).
        // Sum them from the executed plan's own metrics, which the
        // just-finished run populated; the capture covers the internal
        // executions (materializing constructors).
        val bc = (df.queryExecution +: inner.map(_._2))
          .map(qe => broadcastBytes(qe.executedPlan)).sum
        val after = drained
        val sw = after._1 - before._1
        val sr = after._2 - before._2
        val spill = after._3 - before._3
        val scanned = after._4 - before._4
        name -> (s""""$name":{"sec":${math.rint(sec * 1000) / 1000},""" +
          s""""shuffle_write":$sw,"shuffle_read":$sr,"broadcast":$bc,""" +
          s""""spill":$spill,"scan_bytes":$scanned}""", false)
      } catch {
        case e: Throwable =>
          name -> (s""""$name":{"err":"${esc(e.toString.take(200))}"}""", true)
      }
    }
    val nErr = rows.count(_._2._2)
    println(s"""{"metric":"shuffle_bytes","sf":"$sfDir","n_err":$nErr,""" +
      s""""queries":${rows.map(_._2._1).mkString("{", ",", "}")}}""")
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
