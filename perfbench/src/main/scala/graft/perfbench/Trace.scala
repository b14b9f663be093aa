package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** One timed interval. Times are nanoseconds on the tracer's clock;
  * `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the part of [start, end] that the union of `kids` covers.
    * Children may overlap each other (concurrent Spark jobs do) and may
    * stick out of the parent; both are handled by clipping and merging.
    */
  def coveredNs(start: Long, end: Long, kids: Seq[(Long, Long)]): Long = {
    val clipped = kids.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus what its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(span.startNs, span.endNs, children.map(c => (c.startNs, c.endNs)))
}

/** In-memory span recorder for the driver thread. Disabled tracers time
  * nothing and keep nothing, so the untraced run pays no recording cost.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)]
  private var nextId = 0

  def all: Seq[Span] = spans.toSeq

  /** Parent id and trace id of the innermost open span. */
  def current: (Int, String) = stack.headOption.getOrElse((-1, ""))

  /** Run `body` inside a span named `name`. A root-level call starts a
    * new trace whose id is `trace` (or the span name).
    */
  def span[A](name: String, trace: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, outerTrace) = current
      val tr = if (trace != null) trace else if (outerTrace.nonEmpty) outerTrace else name
      stack.push((id, tr))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, parent, tr, name, t0, t1)
      }
    }

  /** Record a span measured elsewhere (a Spark job) under `parent`. */
  def add(parent: Span, name: String, startNs: Long, endNs: Long): Span = {
    val s = Span(nextId, parent.id, parent.trace, name, startNs, endNs)
    nextId += 1
    spans += s
    s
  }

  /** Write every span as one JSON line, with its self time. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val byParent = spans.groupBy(_.parent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val out = new PrintWriter(file, "UTF-8")
    try spans.sortBy(s => (s.startNs, s.id)).foreach { s =>
      val self = Spans.selfNs(s, byParent.getOrElse(s.id, Nil).toSeq)
      out.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"self_ms":${Json.num(self / 1e6)}}""")
    }
    finally out.close()
  }
}

/** The little JSON the benchmark writes by hand (no JSON library in the
  * program's classpath).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}
