package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import DeferralGuard.Hazard

/** The `deferral_audit` line [[ExplainAll]] prints is a pure function of
  * its (query, hazards, error) rows; these pin its keys and counts with
  * no Spark session.
  */
class AuditLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val hz = Hazard("BroadcastHashJoin", "Inner", "codes", Seq("graft_pq_encode"))

  test("the line has the published keys in the published order") {
    val j = mapper.readTree(ExplainAll.auditLine("sfX", Seq(("a", Nil, None))))
    assert(j.fieldNames.asScala.toSeq === Seq("metric", "sf", "n_queries",
      "n_flagged", "n_bad", "n_err", "flagged", "errors"))
    assert(j.get("metric").asText === "deferral_audit")
    assert(j.get("sf").asText === "sfX")
  }

  test("flagged and erroring queries are counted and listed; a clean one is not") {
    val j = mapper.readTree(ExplainAll.auditLine("sfX", Seq(
      ("clean", Nil, None), ("deferred", Seq(hz), None),
      ("threw", Nil, Some("boom \"q\"\n")))))
    assert(j.get("n_queries").asInt === 3)
    assert(j.get("n_flagged").asInt === 1)
    assert(j.get("n_bad").asInt === 1)
    assert(j.get("n_err").asInt === 1)
    assert(j.get("flagged").fieldNames.asScala.toSeq === Seq("deferred"))
    val d = j.get("flagged").get("deferred")
    assert(d.fieldNames.asScala.toSeq === Seq("allowed", "hazards"))
    assert(!d.get("allowed").asBoolean)
    assert(d.get("hazards").elements.asScala.map(_.asText).toSeq === Seq(hz.toString))
    assert(j.get("errors").fieldNames.asScala.toSeq === Seq("threw"))
    assert(j.get("errors").get("threw").asText === "boom \"q\"\n")
  }
}
