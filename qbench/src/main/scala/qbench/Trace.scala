package qbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One timed interval. `kind` is one of workload, op, layer, job, stage;
  * `parent` is the id of the enclosing span (0 for the root).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** Self time: a span's duration minus the part of it its children cover.
  * Children may overlap each other (parallel jobs) and may stick out of
  * the parent (a listener event stamped a little late), so the covered
  * part is the union of the children's intervals clipped to the parent.
  */
object SelfTime {
  def coveredNs(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
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
    covered
  }

  def selfNs(parent: (Long, Long), children: Seq[(Long, Long)]): Long =
    (parent._2 - parent._1) - coveredNs(parent, children)
}

/** In-memory span recorder for the traced run. The client is one thread
  * (closed loop), so the open-span stack is a plain stack; listener
  * threads only append finished job and stage spans.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]

  def nextId(): Long = ids.incrementAndGet()

  def currentId: Long = if (stack.isEmpty) 0L else stack.top

  /** Run `f` inside a span; returns its result and the elapsed seconds.
    * When tracing is off only the elapsed time is taken.
    */
  def span[A](kind: String, name: String)(f: Long => A): (A, Double) = {
    val id = if (enabled) nextId() else 0L
    val parent = currentId
    val t0 = System.nanoTime()
    if (enabled) stack.push(id)
    try {
      val a = f(id)
      (a, (System.nanoTime() - t0) / 1e9)
    } finally if (enabled) {
      stack.pop()
      add(Span(id, parent, kind, name, t0, System.nanoTime()))
    }
  }

  def add(s: Span): Unit = synchronized { done += s }

  def spans: Seq[Span] = synchronized { done.toSeq }

  /** Self seconds of every span, by span id. */
  def selfSeconds(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> SelfTime.selfNs((s.startNs, s.endNs), ch) / 1e9
    }.toMap
  }

  /** JSON lines, one span per line. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val self = selfSeconds(all)
    val lines = all.sortBy(s => (s.startNs, s.id)).map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${Json.esc(s.name)}","start_s":${Json.num((s.startNs - t0) / 1e9)},""" +
        s""""end_s":${Json.num((s.endNs - t0) / 1e9)},"self_s":${Json.num(self(s.id))},""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}
