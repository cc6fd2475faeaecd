package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: seeded inputs, record→row matching and
  * span arithmetic. No Spark session is started here.
  */
class BenchSpec extends AnyFunSuite {

  private def pushScript(seed: Long): (String, Seq[String]) = {
    val players = Gen.players(seed, 60)
    val evs = Gen.events(seed, players, 0L, 500)
    (evs.map(_.insert).mkString("\n"), evs.map(_.playerId))
  }

  private def statementScript(seed: Long): String =
    Gen.statements(seed, Gen.players(seed, 40), 0L, 500).map(_.text).mkString("\n")

  test("the same seed gives a byte-identical script and key sequence") {
    val (s1, k1) = pushScript(42)
    val (s2, k2) = pushScript(42)
    assert(s1.getBytes("UTF-8").sameElements(s2.getBytes("UTF-8")))
    assert(k1 == k2)
    assert(statementScript(42) == statementScript(42))
    assert(Gen.players(42, 60) == Gen.players(42, 60))
  }

  test("another seed gives another script") {
    assert(pushScript(1)._1 != pushScript(2)._1)
    assert(pushScript(1)._2 != pushScript(2)._2)
    assert(statementScript(1) != statementScript(2))
  }

  test("the statement mix holds both writes and every kind of read") {
    val kinds = Gen.statements(7, Gen.players(7, 40), 0L, 2000).map {
      case _: Gen.Insert => "insert"
      case Gen.ReadPlayerStats => "stats"
      case _: Gen.ReadPlayer => "player"
      case Gen.ReadMatchResults => "matches"
      case Gen.ReadWindows => "windows"
    }.toSet
    assert(kinds == Set("insert", "stats", "player", "matches", "windows"))
  }

  private def row(k: String, c: Long, t: Long) = Changelog.Row(k, c, t, Vector(k, c))

  test("each record matches the first update-mode row that reflects it") {
    // batch 1 takes a#1, b#1, b#2; batch 2 takes a#2, a#3; batch 3 takes b#3
    val rows = Vector(row("a", 1, 10), row("b", 2, 11), row("a", 3, 20), row("b", 3, 30))
    val recs = Seq("a" -> 1L, "b" -> 1L, "b" -> 2L, "a" -> 2L, "a" -> 3L, "b" -> 3L, "a" -> 4L,
      "c" -> 1L)
    assert(Changelog.matchRecords(recs, rows).toSeq == Seq(0, 1, 1, 2, 2, 3, -1, -1))
  }

  test("matching uses the first row whose count reaches the record, in stream order") {
    // an out-of-order row must not be matched past an earlier one that covers it
    val rows = Vector(row("a", 2, 10), row("a", 1, 20), row("a", 3, 30))
    assert(Changelog.matchRecords(Seq("a" -> 1L, "a" -> 2L, "a" -> 3L), rows).toSeq ==
      Seq(0, 0, 2))
    assert(!Changelog.monotone(rows, Seq(1)))
    assert(Changelog.monotone(rows.filter(_.count != 1), Seq(1)))
    assert(Changelog.lastByKey(rows)("a").count == 3)
  }

  private def span(id: Long, s: Long, e: Long, parent: Long) = Span(id, s"n$id", s, e, parent, "r")

  test("spans nest and self times are never negative") {
    val spans = Seq(span(1, 0, 100, 0), span(2, 10, 40, 1), span(3, 30, 60, 1),
      span(4, 35, 38, 3), span(5, 100, 150, 0))
    assert(Trace.nested(spans))
    val self = Trace.selfTimes(spans)
    // children 2 and 3 overlap: together they cover 10..60
    assert(self(1) == 50)
    assert(self(2) == 30)
    assert(self(3) == 27)
    assert(self(4) == 3)
    assert(self(5) == 50)
    assert(self.values.forall(_ >= 0))
  }

  test("a child sticking out of its parent is reported and clipped") {
    val spans = Seq(span(1, 0, 10, 0), span(2, 5, 20, 1), span(3, 0, 10, 1))
    assert(!Trace.nested(spans))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 0)
    assert(self.values.forall(_ >= 0))
  }

  test("a recording tracer keeps spans; a disabled one keeps none") {
    val on = new Tracer(true)
    val root = on.add("root", 0, 10, 0L, "r")
    on.add("child", 2, 4, root, "r")
    assert(on.spans.size == 2 && Trace.nested(on.spans))
    assert(Trace.medianSelfMs(on.spans)("root") == 8 / 1e6)
    val off = new Tracer(false)
    off.add("root", 0, 10, 0L, "r")
    assert(off.spans.isEmpty)
  }

  test("interval unions and quantiles") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Trace.unionLength(Nil) == 0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.median(Nil) == 0.0)
  }

  test("the reference model follows the generated script") {
    val players = Gen.players(3, 40)
    val ref = new StatementsBench.Reference(players)
    val evs = Gen.events(3, players, 0L, 130)
    evs.foreach(ref.insert)
    val all = ref.expect(Gen.ReadPlayerStats)
    assert(all.map(_(5).toInt).sum == 130)
    assert(all.map(_(0)).toSet == evs.map(_.playerId).toSet)
    // 130 records at one second each fall in three one-minute windows
    assert(ref.expect(Gen.ReadWindows).map(_(1).toInt).sum == 130)
    val goals = evs.count(_.eventType == "GOAL")
    assert(ref.expect(Gen.ReadMatchResults).map(r => r(1).toInt + r(2).toInt).sum == goals)
  }

  test("reply parsing") {
    val body = """[{"statement":"SELECT 1;","columns":["A","B"],"rows":[["x",1],["y\"",null]]}]"""
    assert(StatementsBench.rowsOf(body).contains(Vector(Vector("x", "1"), Vector("y\"", "null"))))
    assert(StatementsBench.rowsOf("""[{"statement":"x","error":"bad"}]""").isEmpty)
    assert(Json.parse("""{"a":[1.5,true,{"b":"A"}]}""") ==
      Map("a" -> Vector(BigDecimal("1.5"), true, Map("b" -> "A"))))
  }
}
