package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: run registered queries and dump the plans that
  * executed, so each round's shuffle/pushdown/broadcast review reads one
  * file instead of re-deriving plans by hand.
  *
  * Pipeline operators do their work inside the query constructor (each
  * `Scratch.materializeThenFree` checkpoint is its own execution), so a
  * query's section lists every execution captured while it was built and
  * then written to the no-op sink, in order. Each execution prints
  * `explain("formatted")` of its executed plan (AQE's final plan, where
  * WholeStageCodegen boundaries are real, above the initial plan) and the
  * nonzero SQL metrics of every node. Sections open with a `== <name>`
  * header between `=` rules; tools/split_plans.py splits on it.
  *
  * With no query names every registered query is dumped.
  *
  * Usage: runMain graft.ExplainAll [sfDir] [outFile] [query ...]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    // validate BEFORE booting a session: a mistyped name must print the
    // valid names, not cost a multi-second startup and then fail
    val wanted = args.drop(2).toSeq
    val unknown = wanted.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries ${unknown.mkString(", ")}; " +
        "valid names:\n  " + SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val names = if (wanted.nonEmpty) wanted else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    names.foreach { name =>
      sb.append(s"\n${"=" * 70}\n== $name\n${"=" * 70}\n")
      try {
        val t0 = System.nanoTime()
        val (_, runs) = Executions.capture(spark) {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        sb.append(f"-- ${(System.nanoTime() - t0) / 1e9}%.3f s, " +
          s"${runs.size} executions\n")
        for (((action, qe), i) <- runs.zipWithIndex) {
          sb.append(s"\n-- execution ${i + 1}/${runs.size}: $action\n")
          sb.append(qe.explainString(FormattedMode))
          sb.append("-- node metrics (nonzero)\n")
          Executions.nodes(qe.executedPlan).foreach { p =>
            val ms = p.metrics.filter(_._2.value > 0)
            if (ms.nonEmpty) sb.append(f"-- ${p.nodeName}%-28s " +
              ms.map { case (k, m) => s"$k=${m.value}" }.mkString(" ") + "\n")
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) => sb.append(s"ERROR: ${e.getMessage}\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
