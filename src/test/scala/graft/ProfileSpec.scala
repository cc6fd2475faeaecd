package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Profile]] on the registered suite at sf0.001: a BroadcastHashJoin
  * row, a pipeline-operator row (checkpoints and scratch caches) and the
  * host-reference row, one timed pass.
  */
class ProfileSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("j1_inner_join", "d20_prefix_jaccard", "x6_salted_join")

  private lazy val profile = Profile.run(spark, dir, 1, names)
  private def best(name: String): Profile.Run =
    profile.passes.head.rows(profile.names.indexOf(name))

  test("per-query stage sums equal the query's task totals") {
    assert(profile.names === names.sorted)
    assert(profile.nErr === 0)
    names.foreach { n =>
      val r = best(n)
      assert(r.stages.nonEmpty, n)
      assert(r.stages.map(_.work).reduce(_ + _) === r.work, n)
      assert(r.executions.exists(_.stages.nonEmpty), s"$n: no stage attributed")
    }
  }

  test("every attributed stage names at least one plan node") {
    names.foreach { n =>
      for (e <- best(n).executions; s <- e.stages)
        assert(s.nodes.nonEmpty, s"$n: ${e.action} stage ${s.id}")
    }
    // d20's candidate join reads its persisted scratch relations
    assert(best("d20_prefix_jaccard").stages.exists(_.nodes.contains("InMemoryTableScan")))
  }

  test("j1's broadcast join reports its broadcast bytes through count()") {
    val j1 = best("j1_inner_join")
    assert(j1.executions.exists(_.joins.contains("BroadcastHashJoin")))
    assert(j1.executions.map(_.broadcastBytes).sum > 0)
    assert(j1.executions.last.action === "count")
    assert(j1.executions.last.phasesMs.map(_._1) ===
      Seq("analysis", "optimization", "planning"))
  }

  test("profiling a query runs as many Spark jobs as a bare count()") {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    profile
    spark.sparkContext.addSparkListener(counter)
    try names.foreach { n =>
      Executions.drain(spark)
      jobs.set(0)
      SparkEntry.queries(n)(spark, dir).count()
      Executions.drain(spark)
      assert(best(n).jobs === jobs.get, n)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("an unknown query name is rejected") {
    val e = intercept[IllegalArgumentException](Profile.run(Seq("j1_inner_join", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
