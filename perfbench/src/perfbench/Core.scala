package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated percentile `p` in [0, 100] (the numpy default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Self time of a layer from paired prefix timings: the median over reps
    * of `layer` minus `below` of the same rep (`below` empty: `layer`
    * alone). Right when it exceeds the interquartile spread of those
    * differences, so noise between reps cannot pass for a layer's cost;
    * Left with the reason otherwise.
    */
  def selfTime(layer: Seq[Double], below: Seq[Double]): Either[String, Double] = {
    val d = if (below.isEmpty) layer else layer.zip(below).map { case (x, y) => x - y }
    val self = median(d)
    val spread = percentile(d, 75) - percentile(d, 25)
    if (self > spread) Right(self)
    else Left(f"self $self%.4f s within the spread $spread%.4f s of ${d.size} reps")
  }

  /** The tail percentile a run of `n` samples can support: the highest
    * percentile at most `want` that still has at least `beyond` samples
    * above it, never below the median. 200 samples support p95, 100
    * support p90, 20 or fewer only the median.
    */
  def tailPercentile(n: Int, want: Double, beyond: Int = 10): Double =
    if (n <= 0) 50.0
    else math.max(50.0, math.min(want, 100.0 * (1.0 - beyond.toDouble / n)))
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case r: RawJson => r.json
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Failure accounting for one run. Every timed operation and every output
  * check is one attempt. An operation that throws is logged with its
  * exception, counted as failed, and yields no latency sample; a check that
  * does not hold is counted as failed and named.
  */
final class Ledger {
  private var opsAttempted = 0L
  private var checksAttempted = 0L
  val failures = ArrayBuffer.empty[String]

  def attempted: Long = synchronized(opsAttempted + checksAttempted)
  def failed: Long = synchronized(failures.size.toLong)
  def failedChecks: Int = synchronized(failures.count(_.startsWith("check ")))
  def failRatio: Double = synchronized(if (attempted == 0) 0.0 else failed.toDouble / attempted)

  /** Run `body` as one operation; returns its result and wall seconds, or
    * None when it threw.
    */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    synchronized(opsAttempted += 1)
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        synchronized(failures += s"op $name: $e")
        System.err.println(s"[perfbench] op $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Count one output check; a false `ok` is logged with `detail`. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    synchronized(checksAttempted += 1)
    if (!ok) {
      val msg = s"check $name: $detail"
      synchronized(failures += msg)
      System.err.println(s"[perfbench] FAILED $msg")
    }
    ok
  }
}

/** One timed region around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, opId: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` only runs its body. Spans nest
  * per thread; the whole list is written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String, opId: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(spans += Span(id, name, parent, opId, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.id))

  /** Total self seconds per span name. */
  def selfSecondsByName: Map[String, Double] = {
    val ss = all
    val self = Tracer.selfNs(ss)
    ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => self(s.id)).sum / 1e9 }
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of it covered by
    * its direct children (overlapping children counted once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
