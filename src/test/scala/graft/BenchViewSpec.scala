package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import Profile.{Pass, Run}

/** The `graft.Bench` line is a pure view of a [[Profile]]'s pass results;
  * these pin its arithmetic and its published key order on synthetic
  * passes, with no Spark session.
  */
class BenchViewSpec extends AnyFunSuite {

  private def ok(sec: Double) = Run(sec, None)
  private def failed(sec: Double, err: String) = Run(sec, Some(err))

  private def pass(rows: Seq[Run], refs: Seq[Run] = Seq(ok(0.5), ok(0.6)),
      cpu: Seq[Double] = Seq(0.4, 0.4)) = Pass(rows, refs, cpu)

  private def line(names: Seq[String], passes: Seq[Pass]): JsonNode =
    new ObjectMapper().readTree(Profile("sfX", 4, names, passes).benchLine)

  test("per-row min and median over the passes; value and value_median sum them") {
    val j = line(Seq("a", "b"), Seq(
      pass(Seq(ok(1.0), ok(0.5))), pass(Seq(ok(3.0), ok(0.7))),
      pass(Seq(ok(2.0), ok(0.6)))))
    assert(j.get("queries").get("a").asDouble === 1.0)
    assert(j.get("queries_median").get("a").asDouble === 2.0)
    assert(j.get("queries").get("b").asDouble === 0.5)
    assert(j.get("queries_median").get("b").asDouble === 0.6)
    assert(j.get("value").asDouble === 1.5)
    assert(j.get("value_median").asDouble === 2.6)
    assert(j.get("runs").asInt === 3)
    assert(j.get("per_row").asText === "min")
    assert(j.get("sf").asText === "sfX")
  }

  test("a row that failed in any pass keeps its first err and leaves value and n_ok") {
    val j = line(Seq("a", "b", "c"), Seq(
      pass(Seq(ok(1.0), ok(0.2), failed(0.1, "first"))),
      pass(Seq(ok(1.0), failed(0.05, "boom"), failed(0.2, "second"))),
      pass(Seq(ok(1.0), failed(0.3, "bang"), failed(0.3, "third")))))
    val b = j.get("queries").get("b")
    assert(b.get("err").asText === "boom")
    // its seconds come from the passes that succeeded
    assert(b.get("sec").asDouble === 0.2)
    // a row that never succeeded is timed over all its passes
    assert(j.get("queries").get("c").get("sec").asDouble === 0.1)
    assert(j.get("queries").get("c").get("err").asText === "first")
    assert(j.get("queries_median").get("b").get("err").asText === "boom")
    assert(j.get("value").asDouble === 1.0)
    assert(j.get("n_ok").asInt === 1)
    assert(j.get("n_err").asInt === 2)
    assert(Profile("sfX", 4, Seq("a", "b", "c"), Seq.empty).nErr === 0)
  }

  test("skew_rows: median > 2 x min and median - min > 0.25") {
    val names = Seq("skewed", "close", "ratio_only", "failed")
    // per row (min, median): (0.2, 0.5) both; (0.1, 0.3) gap 0.2;
    // (1.0, 1.9) gap 0.9 but under 2x; a failed row is never listed
    val j = line(names, Seq(
      pass(Seq(ok(0.2), ok(0.1), ok(1.0), ok(0.1))),
      pass(Seq(ok(0.5), ok(0.3), ok(1.9), ok(0.9))),
      pass(Seq(ok(0.9), ok(0.3), ok(1.9), failed(0.9, "x")))))
    assert(j.get("skew_rows").elements.asScala.map(_.asText).toSeq === Seq("skewed"))
  }

  test("run_totals sum each pass's successful rows; host_factor is the median " +
      "successful host reading over HostAnchorSf01") {
    val j = line(Seq("a", "b"), Seq(
      pass(Seq(ok(1.0), ok(2.0)), refs = Seq(ok(0.5), failed(9.0, "ref"))),
      pass(Seq(ok(1.5), failed(0.1, "e")), refs = Seq(ok(0.7), ok(0.9)))))
    assert(j.get("run_totals").elements.asScala.map(_.asDouble).toSeq === Seq(3.0, 1.5))
    assert(j.get("host_ref").get("name").asText === ScaleBench.HostRefRow)
    assert(j.get("host_ref").get("runs").elements.asScala.map(_.asDouble).toSeq ===
      Seq(0.5, 0.7, 0.9))
    assert(j.get("host_factor").asDouble === BenchUtil.r3(0.7 / Profile.HostAnchorSf01))
    assert(j.get("cpu_ref").get("runs").size === 4)
    assert(j.get("cpu_factor").asDouble === 1.0)
    val noRefs = line(Seq("a"), Seq(pass(Seq(ok(1.0)), refs = Seq(failed(1.0, "r")))))
    assert(noRefs.get("host_factor").isNull)
  }

  test("host_factor is null without a host anchor and r3(median / anchor) with one; " +
      "host_ref lists the runs either way") {
    val passes = Seq(pass(Seq(ok(1.0)), refs = Seq(ok(0.5), ok(0.9))))
    val mapper = new ObjectMapper()
    val unanchored = Profile("sfX", 4, Seq("a"), passes, hostAnchor = None).benchLine
    assert(unanchored.contains("\"host_factor\":null"))
    assert(mapper.readTree(unanchored).get("host_ref").get("runs").elements.asScala
      .map(_.asDouble).toSeq === Seq(0.5, 0.9))
    val anchored = mapper.readTree(
      Profile("sfX", 4, Seq("a"), passes, hostAnchor = Some(1.271)).benchLine)
    assert(anchored.get("host_factor").asDouble === BenchUtil.r3(0.7 / 1.271))
  }

  test("every ScaleBench Headline row resolves to a query, and the host-reference " +
      "row is registered") {
    val known = SparkEntry.queries.keySet ++ ScaleBench.ScaleOnly.keySet
    assert(ScaleBench.Headline.filterNot(known) === Nil)
    assert(SparkEntry.queries.contains(ScaleBench.HostRefRow))
  }

  test("the line has the published keys in the published order") {
    val j = line(Seq("a"), Seq(pass(Seq(ok(1.0)))))
    assert(j.fieldNames.asScala.toSeq === Seq("metric", "value", "unit",
      "value_median", "queries", "queries_median", "skew_rows", "n_ok", "n_err",
      "sf", "runs", "per_row", "run_totals", "host_ref", "host_factor", "cpu_ref",
      "cpu_factor"))
    assert(j.get("metric").asText === "total")
    assert(j.get("unit").asText === "sec")
    assert(j.get("host_ref").fieldNames.asScala.toSeq === Seq("name", "runs"))
    assert(j.get("cpu_ref").fieldNames.asScala.toSeq === Seq("anchor_sec", "runs"))
  }

  test("the profile line embeds the Bench line under bench") {
    val p = Profile("sfX", 4, Seq("a"), Seq(pass(Seq(ok(1.0))), pass(Seq(failed(2.0, "e\"\n")))))
    val mapper = new ObjectMapper()
    val j = mapper.readTree(p.json)
    assert(j.get("metric").asText === "profile")
    assert(j.get("bench") === mapper.readTree(p.benchLine))
    val a = j.get("queries").get("a")
    assert(a.get("runs").elements.asScala.map(_.asDouble).toSeq === Seq(1.0, 2.0))
    assert(a.get("err").asText === "e\"\n")
    assert(a.get("min_run").get("sec").asDouble === 1.0)
  }
}
