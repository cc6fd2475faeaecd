package graft

/** Benchmark main: profiles every SparkEntry query on SPARK_GRAFT_SF_DIR
  * ([[Profile.run]]) and prints ONE JSON metric line, its
  * [[Profile.benchLine]] view. Exits 1 when any query threw.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val p = Profile.run(SparkEntry.queries.keys.toSeq)
    println(p.benchLine)
    if (p.nErr > 0) sys.exit(1)
  }
}
