package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The SQL executions a block of code runs, as Spark's listener bus
  * reports them. Pipeline operators do their real work inside their
  * constructor (`Scratch.materializeThenFree` checkpoints the result),
  * so the plans that actually execute are the checkpoints' plans, not
  * the returned DataFrame's scan of checkpointed blocks. Plan tests, the
  * deferral audit and the plan dump read them from here; [[Profile]]
  * reads the same execution-end events together with their execution ids.
  */
object Executions {

  /** Block until every event posted so far has reached its listeners.
    * The bus is asynchronous: an execution's end event is posted when the
    * action returns and delivered later on the bus thread.
    */
  def drain(spark: SparkSession): Unit =
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 30000)

  /** Run `body` and return its result with every successful execution it
    * ran (checkpoints, collects, counts, writes), in completion order, as
    * (action name, execution) pairs. Execution through
    * `queryExecution.toRdd` bypasses the action path and is not reported.
    */
  def capture[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(fn -> qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events of earlier actions must not reach this listener
    drain(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      drain(spark)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Build a registered query and write it to the no-op sink: every
    * execution that runs, its operators' checkpoints included, in order.
    */
  def ofQuery(spark: SparkSession, query: (SparkSession, String) => DataFrame,
      sfDir: String): Seq[(String, QueryExecution)] = {
    val (_, runs) = capture(spark) {
      query(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    // the write itself is always an execution: none captured means the
    // capture is broken, and an empty walk would pass vacuously
    require(runs.nonEmpty, "no execution captured for the query's write")
    runs
  }

  /** Every node of an executed plan: AQE roots expand to their final
    * plan, materialized query stages to their contained plan; reused
    * exchanges stop (their metrics belong to the original, and counting
    * them twice would double the bytes).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }
}
