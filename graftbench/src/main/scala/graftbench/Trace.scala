package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is recorded around each call the benchmark makes into a layer:
  * name, start, end, the enclosing span (parent) and the operation it
  * belongs to. Recording is switched per thread, so one run can alternate
  * traced and untraced operations and price the tracing itself. Spans stay
  * in memory and are written once, when the run ends.
  */
object Trace {
  final case class Span(id: Int, parent: Int, op: Int, phase: String,
      name: String, thread: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val opId = ThreadLocal.withInitial[Integer](() => -1)

  /** The workload whose spans are being recorded; derived metrics read
    * only the current phase's spans.
    */
  @volatile var phase: String = ""

  def enabled: Boolean = on.get

  /** Run `body` as operation `op`, recording spans only when `traced`. */
  def op[T](op: Int, traced: Boolean)(body: => T): T = {
    val (prevOn, prevOp) = (on.get, opId.get)
    on.set(traced); opId.set(op)
    try body finally { on.set(prevOn); opId.set(prevOp) }
  }

  def span[T](name: String)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, opId.get, phase, name, Thread.currentThread.getName, t0, t1))
      }
    }

  private def everything: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def all: Seq[Span] = everything.filter(_.phase == phase)

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time (ms) of a span: its duration minus the part its direct
    * children cover. Children run on the caller's thread, one after
    * another, so their durations add without overlap.
    */
  def selfTime(s: Span): Double =
    s.ms - everything.filter(_.parent == s.id).map(_.ms).sum

  def toJson: String = everything.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "phase" -> s.phase,
      "name" -> s.name,
      "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
