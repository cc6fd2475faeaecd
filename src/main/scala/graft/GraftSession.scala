package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every diagnostic/benchmark main
  * shares (Profile and so Bench, Verify, ExplainAll, StreamBench,
  * ScaleBench and RecallReport call `local(cpus)`): a config
  * added here — e.g. the ObjectHashAggregate fallback threshold, which
  * changes physical aggregate operator choice — reaches the plan dumps,
  * the benches, and the oracle runner identically. A drifted copy would
  * make dumped plans silently differ from what the benches execute,
  * defeating the plan-audit purpose.
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS (default 4): the cores every main's session runs
    * on. One default, so no main oversubscribes a host the others fit.
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata parquet carries TIMESTAMP(NANOS) — read as nanos-long
      // (TestdataAdapter converts to µs, matching DuckDB's ns→µs floor)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // the generated-class cache defaults to 100 entries; the 157-query
      // bench session compiles thousands of distinct codegen sources, so
      // multi-stage queries timed mid-suite had every stage EVICTED and
      // recompiled inside their timed run — measured r14: v17's in-suite
      // median read 4.1 s vs 1.6 s isolated on identical code, and the
      // delta is recompilation, not execution (a real deployment reuses
      // hot plans; the bench must too, or it times janino).
      // Trade-off (ADVICE r14): ~80× more retained generated classes =
      // more metaspace + JIT code-cache residency in a long-lived
      // session. This factory serves only the repo's bench/diagnostic
      // mains, and the env override lets any of them —
      // or a decomposition run testing the retention itself — dial it
      // without a rebuild. Library consumers configure their own
      // sessions; nothing here leaks into user code.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
