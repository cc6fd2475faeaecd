package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    // trim + drop empties: "a1, a5" or a trailing comma must not silently
    // match nothing; unknown names fail loudly
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach(names => require(names.forall(SparkEntry.queries.contains),
      s"unknown queries: ${names.filterNot(SparkEntry.queries.contains)}"))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // pre-delete: a failed query must not leave a STALE result from a
        // previous run of the same outDir for the compare to grade
        val out = new java.io.File(s"$outDir/$name")
        if (out.exists())
          org.apache.commons.io.FileUtils.deleteDirectory(out)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed ::= name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1) // a crashing query must fail the run, like Bench does
    }
  }
}
