package perfbench

import scala.collection.mutable

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the name of the span that caused this one ("" for the root). */
final case class Span(op: Long, name: String, parent: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out once when the run ends. When
  * disabled, `span` only runs its body: the untraced run pays no
  * bookkeeping. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.ArrayBuffer[(Long, Counters)]()

  def span[T](op: Long, name: String, parent: String = "op")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized { spans += Span(op, name, parent, t0, t1) }
      }
    }

  /** The listener counters of operation `op`. */
  def record(op: Long, c: Counters): Unit = if (enabled) synchronized { counters += op -> c }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time of each span, summed by span name, in ms. */
  def selfMsByName: Map[String, Double] = {
    val byOp = all.groupBy(_.op)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byOp(s.op).filter(_.parent == s.name).map(k => (k.startNs, k.endNs))
        Stats.selfTime(s.startNs, s.endNs, kids)
      }.sum / 1e6
    }
  }

  /** Spans and counters as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      Json.obj("op" -> s.op, "span" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)) ++
      synchronized(counters.toSeq).map { case (op, c) =>
        Json.obj("op" -> op, "counters" -> Json.obj(
          c.productElementNames.toSeq.zip(c.productIterator.toSeq): _*))
      }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.map(_.text + "\n").mkString.getBytes("UTF-8"))
  }
}
