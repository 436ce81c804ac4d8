package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed interval of a run: workload, query or pipeline stage, and the
  * `build` / `plan` / `action` phases below a query. Times are
  * System.nanoTime-based except `plan`, whose bounds come from Spark's
  * QueryPlanningTracker (epoch ms, converted onto the same clock).
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Duration of `span` minus the part of it covered by at least one child;
    * overlapping children are counted once and clipped to the parent.
    */
  def selfTimeNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Collects the spans of one run and writes them as JSON lines at exit. */
final class SpanLog(val runId: String) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  def write(path: Path): Unit = {
    val mapper = new ObjectMapper()
    val byParent = all.groupBy(_.parent)
    val lines = all.map { s =>
      val o = mapper.createObjectNode().put("run_id", runId).put("span_id", s.id)
        .put("parent_id", s.parent).put("name", s.name).put("kind", s.kind)
        .put("start_ns", s.startNs).put("dur_ns", s.durNs)
        .put("self_ns", Spans.selfTimeNs(s, byParent.getOrElse(s.id, Nil)))
      val attrs = o.putObject("attrs")
      s.attrs.toSeq.sortBy(_._1).foreach { case (k, v) => attrs.put(k, v) }
      mapper.writeValueAsString(o)
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
