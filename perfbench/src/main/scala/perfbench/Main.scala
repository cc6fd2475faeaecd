package perfbench

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run produced. `e2e` are the user-visible metrics
  * (measured with tracing off); `layers` the per-layer ones (filled in
  * by a traced run).
  */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    e2e: Seq[Metric], layers: Seq[Metric]) {
  def correct: Boolean = problems.isEmpty
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--data DIR]`: runs one workload in this JVM and prints, as its last
  * line, one JSON object with the outcome and every metric it measured.
  * `run.py` builds the classpath, launches this and selects the metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("work"), kv.getOrElse("data", ""))
    val host = s"""{"host":{"nproc":${a.cores},"cpu_model":${Json.quote(Host.cpuModel)},""" +
      s""""spin_ms":${Json.num(Host.spinMs())}}}"""
    println(host)
    note(s"${a.workload}: starting Spark")
    val spark = graft.GraftSession.local(a.cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(a.trace)
    val out =
      try a.workload match {
        case "ksql_push" => PushBench.run(spark, a, tracer)
        case "ksql_statements" => StatementsBench.run(spark, a, tracer)
        case "suite" => SuiteBench.run(spark, a, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      }
    if (a.trace) {
      tracer.write(java.nio.file.Paths.get(a.work, "spans.jsonl"))
      if (!Trace.nested(tracer.spans))
        System.err.println("[perfbench] warning: some spans stick out of their parent")
    }
    note("stopping Spark")
    SparkSession.getActiveSession.foreach(_.stop())
    note("done")
    val ms = (out.e2e ++ out.layers).map { m =>
      s"""${Json.quote(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.quote(m.unit)}}"""
    }
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"problems":${out.problems.take(20).map(Json.quote)
        .mkString("[", ",", "]")},"metrics":${ms.mkString("{", ",", "}")}}""")
    System.out.flush()
    // the JDK HTTP server's stop() leaves its handler pool running; those
    // idle threads would hold the JVM open for another minute
    System.exit(0)
  }

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  /** Milliseconds between two `System.nanoTime` readings. */
  def ms(from: Long, to: Long): Double = (to - from) / 1e6

  def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = ns - System.nanoTime()
    }
  }
}
