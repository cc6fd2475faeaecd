package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. Times are `System.nanoTime` readings; `parent`
  * is 0 for a root; `ref` names the record or statement the span serves.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, ref: String) {
  def durNs: Long = end - start
}

/** Spans kept in memory and written out once, at the end of a run. A
  * disabled tracer records nothing, so untraced runs pay one branch.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  /** Records a span and returns its id, the parent of its children. */
  def add(name: String, start: Long, end: Long, parent: Long, ref: String): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, name, start, end, parent, ref))
      id
    }

  def spans: Vector[Span] = buf.asScala.toVector

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.quote(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"ref":${Json.quote(s.ref)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Self time of every span: its duration minus the part of its own
    * interval that its children cover (children may overlap each other
    * and may stick out of the parent; only the covered part inside the
    * parent counts). Never negative.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - unionLength(ivs))
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** True when every child lies inside its parent's interval. */
  def nested(spans: Seq[Span]): Boolean = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.forall { s =>
      s.parent == 0L || byId.get(s.parent).exists(p => p.start <= s.start && s.end <= p.end)
    }
  }

  /** Median self time in ms per span name. */
  def medianSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Stats.median(ss.map(s => self(s.id) / 1e6))
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
  /** Geometric mean: the typical value of figures of different sizes,
    * where one outlier moves the result less than in an arithmetic mean.
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
