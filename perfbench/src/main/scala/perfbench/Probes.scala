package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Wall-clock milliseconds (what Spark's listeners report) mapped onto
  * the `System.nanoTime` axis the spans use.
  */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nanoOfWallMs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
}

/** Host anchors printed with every run, so figures from different
  * machines are never compared blind.
  */
object Host {
  def cpuModel: String =
    try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().find(_.startsWith("model name")).map(_.split(":", 2)(1).trim)
        .getOrElse("unknown")
      finally src.close()
    } catch { case _: java.io.IOException => "unknown" }

  /** Milliseconds for a fixed single-thread floating-point loop (best of 3). */
  def spinMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 1.0
    var i = 0
    while (i < 20000000) { x = x * 1.0000001 + 1e-9; i += 1 }
    if (x == 0.0) println("unreachable")
    (System.nanoTime() - t0) / 1e6
  }.min
}

object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections: live data, not garbage. */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Any streaming query that ended with an exception and, when
  * `keepProgress`, the progress of every micro-batch.
  */
final class StreamProbe(keepProgress: Boolean) extends StreamingQueryListener {
  import StreamProbe.Batch

  val batches = new ConcurrentLinkedQueue[Batch]()
  val failures = new ConcurrentLinkedQueue[String]()

  private def offsetOf(s: String): Long =
    Option(s).map(_.trim).filter(_.matches("-?\\d+")).map(_.toLong).getOrElse(-1L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (keepProgress) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = Clock.nanoOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val src = p.sources.find(s => offsetOf(s.endOffset) >= 0)
      batches.add(Batch(start, start + d.getOrElse("triggerExecution", 0L) * 1000000L,
        p.numInputRows, src.map(s => offsetOf(s.startOffset)).getOrElse(-1L),
        src.map(s => offsetOf(s.endOffset)).getOrElse(-1L), d,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(failures.add)

  def all: Vector[Batch] = batches.asScala.toVector.sortBy(_.startNs)
}

object StreamProbe {
  /** One micro-batch: trigger start/end on the span clock, the input
    * offsets it read as `(startOffset, endOffset]`, Spark's phase
    * durations in ms and the state store figures.
    */
  final case class Batch(startNs: Long, endNs: Long, inputRows: Long,
      startOffset: Long, endOffset: Long, durations: Map[String, Long],
      stateRows: Long, stateMemBytes: Long, stateCommitMs: Long) {
    /** When the batch's rows were in the sink: before the offset commit
      * that ends the trigger.
      */
    def sinkNs: Long = endNs - durations.getOrElse("commitOffsets", 0L) * 1000000L
  }
}

/** Spark's own planning phases and the executed plan, per action. */
final class QueryProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import QueryProbe.Q
  val queries = new ConcurrentLinkedQueue[Q]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val ex = try collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
    catch { case scala.util.control.NonFatal(_) => 0 }
    queries.add(Q(phases, ex))
  }
  override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Vector[Q] = {
    val b = Vector.newBuilder[Q]
    var q = queries.poll()
    while (q != null) { b += q; q = queries.poll() }
    b.result()
  }
}

object QueryProbe {
  /** Spark's planning phases (ms) and the exchanges in the executed plan. */
  final case class Q(phasesMs: Map[String, Long], exchanges: Int)
}

/** Jobs, stages and task metrics of every Spark job. */
final class TaskProbe extends SparkListener {
  import TaskProbe.{Snapshot, T}
  val tasks = new ConcurrentLinkedQueue[T]()
  @volatile var jobs = 0L
  @volatile var stages = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(T(Clock.nanoOfWallMs(e.taskInfo.launchTime),
      Clock.nanoOfWallMs(e.taskInfo.finishTime), m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  def snapshot(): Snapshot = synchronized {
    val b = Vector.newBuilder[T]
    var t = tasks.poll()
    while (t != null) { b += t; t = tasks.poll() }
    val s = Snapshot(jobs, stages, b.result())
    jobs = 0; stages = 0
    s
  }
}

object TaskProbe {
  final case class T(launchNs: Long, finishNs: Long, runMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, input: Long)
  final case class Snapshot(jobs: Long, stages: Long, tasks: Vector[T])
}

/** The three probes attached to one session. */
final class Probes(spark: SparkSession) {
  val stream = new StreamProbe(keepProgress = true)
  val query = new QueryProbe
  val task = new TaskProbe
  spark.streams.addListener(stream)
  spark.listenerManager.register(query)
  spark.sparkContext.addSparkListener(task)

  def detach(): Unit = {
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(query)
    spark.sparkContext.removeSparkListener(task)
  }
}
