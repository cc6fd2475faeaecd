package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

import DeferralGuard.Hazard

/** Plan-audit main: run registered queries, dump the plans that
  * executed, and walk the same plans for deferral hazards
  * ([[DeferralGuard]]), so each round's shuffle/pushdown/broadcast review
  * reads one file instead of re-deriving plans by hand.
  *
  * Pipeline operators do their work inside the query constructor (each
  * `Scratch.materializeThenFree` checkpoint is its own execution), so a
  * query's section lists every execution captured while it was built and
  * then written to the no-op sink, in order ([[Executions.ofQuery]], run
  * once per query). Each execution prints `explain("formatted")` of its
  * executed plan (AQE's final plan, where WholeStageCodegen boundaries
  * are real, above the initial plan) and the nonzero SQL metrics of every
  * node. Sections open with a `== <name>` header between `=` rules;
  * tools/split_plans.py splits on it.
  *
  * Executing the plans means AQE has re-planned and the broadcast
  * decisions walked are the real ones. The audit prints one JSON line
  * (`"metric":"deferral_audit"`, [[auditLine]]) and the main exits 1 when
  * any query is flagged or threw: every registered plan must be
  * hazard-free, the per-round gate that keeps the trap class from being
  * re-introduced silently.
  *
  * With no query names every registered query is dumped and audited.
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
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val rows = names.map { name =>
      sb.append(s"\n${"=" * 70}\n== $name\n${"=" * 70}\n")
      try {
        val t0 = System.nanoTime()
        val runs = Executions.ofQuery(spark, SparkEntry.queries(name), sfDir)
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
        (name, DeferralGuard.executedHazards(runs), None)
      } catch {
        case NonFatal(e) =>
          sb.append(s"ERROR: ${e.getMessage}\n")
          (name, Nil, Some(e.toString.take(200)))
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
    println(s"wrote $outFile")
    println(auditLine(sfDir, rows))
    if (rows.exists { case (_, hz, err) => hz.nonEmpty || err.nonEmpty })
      sys.exit(1)
  }

  /** The `deferral_audit` line over (query, hazards, error) rows. No
    * deferral is allowlisted, so every flagged query is also bad and
    * `allowed` is always false.
    */
  private[graft] def auditLine(sf: String,
      rows: Seq[(String, Seq[Hazard], Option[String])]): String = {
    val flagged = rows.collect { case (n, hz, None) if hz.nonEmpty => (n, hz) }
    val errs = rows.collect { case (n, _, Some(e)) => (n, e) }
    val flaggedJson = flagged.map { case (n, hz) =>
      s""""$n":{"allowed":false,"hazards":[${
        hz.map(h => s""""${Profile.esc(h.toString)}"""").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val errJson = errs.map { case (n, e) => s""""$n":"${Profile.esc(e)}"""" }
      .mkString("{", ",", "}")
    s"""{"metric":"deferral_audit","sf":"$sf","n_queries":${rows.size},"n_flagged":${
      flagged.size},"n_bad":${flagged.size},"n_err":${errs.size},"flagged":$flaggedJson,"errors":$errJson}"""
  }
}
