package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed call from the benchmark into an engine module. `trace` groups
  * the spans of one delivery or one read; `parent` is 0 for a root span.
  * Times are epoch nanoseconds so they line up with the listener's job
  * times (epoch milliseconds).
  */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startNs: Long, var endNs: Long = 0L,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around the benchmark's calls into the engine.
  * While a span is open its id is the thread's [[WorkListener.SpanProp]]
  * local property, so every job the call submits is attributed to it.
  * With tracing off, or outside the timed phase ([[active]]), [[span]]
  * runs its body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var nextId = 1L
  private var stack: List[Span] = Nil
  var active = false
  val spans = mutable.ArrayBuffer[Span]()

  def now: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String, trace: Long)(body: => T): T =
    if (!active) body
    else {
      val s = Span(nextId, trace, stack.headOption.fold(0L)(_.id), name, now)
      nextId += 1
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(WorkListener.SpanProp)
      sc.setLocalProperty(WorkListener.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = now
        stack = stack.tail
        sc.setLocalProperty(WorkListener.SpanProp, prev)
      }
    }

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    stack.headOption.foreach(_.attrs(key) = value)

  /** Spans as JSON lines: name, start, end, parent, trace, self time. */
  def toJsonLines: Seq[String] = {
    val self = Trace.selfNs(spans.toSeq)
    spans.toSeq.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      (Seq(s""""id":${s.id}""", s""""trace":${s.trace}""",
        s""""parent":${s.parent}""", s""""name":${Json.str(s.name)}""",
        s""""start_ns":${s.startNs}""", s""""end_ns":${s.endNs}""",
        s""""self_ns":${self(s.id)}""") ++ attrs).mkString("{", ",", "}")
    }
  }
}

object Trace {
  /** Length of the union of `[lo, hi)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Span time during which none of `jobs` was running: planning,
    * manifest I/O, listing — the driver's share of the span.
    */
  def driverNs(s: Span, jobs: Seq[JobRec]): Long = {
    val busy = unionLength(jobs.map(j =>
      (math.max(j.startMs * 1000000L, s.startNs),
        math.min(j.endMs * 1000000L, s.endNs))))
    math.max(0L, s.durNs - busy)
  }
}
