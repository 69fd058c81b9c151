package perfbench

import scala.collection.mutable

/** In-memory spans at the benchmark's own boundaries (run, pass, op, plan,
  * action, day steps) plus Spark jobs attached as children of their op.
  * Written out once, at the end of the run. Times are epoch microseconds. */
final class Tracer(var on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                        var endUs: Long, attrs: mutable.LinkedHashMap[String, Any])

  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  /** Id of the innermost open span, -1 when none (or tracing is off). */
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, current, name, nowUs, -1L, mutable.LinkedHashMap(attrs: _*))
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endUs = nowUs; stack = stack.tail }
    }

  /** A span whose bounds were measured elsewhere (a Spark job). */
  def child(parent: Int, name: String, startUs: Long, endUs: Long,
            attrs: (String, Any)*): Unit =
    if (on) spans += Span(spans.size, parent, name, startUs, endUs,
      mutable.LinkedHashMap(attrs: _*))

  /** Spans as rows, each with its self time: its duration minus the part
    * of its interval covered by its children. */
  def rows: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      var covered = 0L
      var reach = s.startUs
      for (c <- kids.getOrElse(s.id, Nil).sortBy(_.startUs)) {
        val lo = math.max(c.startUs, reach)
        val hi = math.min(c.endUs, s.endUs)
        if (hi > lo) { covered += hi - lo; reach = hi }
      }
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs,
        "dur_us" -> (s.endUs - s.startUs),
        "self_us" -> (s.endUs - s.startUs - covered)) ++ s.attrs
    }
  }
}
