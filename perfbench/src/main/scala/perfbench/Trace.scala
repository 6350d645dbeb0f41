package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are milliseconds since
  * the trace's origin; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, String]) {
  def durMs: Double = endMs - startMs
}

/** In-memory spans and counters, written out when the run ends.
  *
  * With `enabled = false` every call is a no-op, so the untraced run that
  * produces the end-to-end metrics pays nothing for the hooks.
  */
final class Trace(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  /** Wall clock at the origin, for events Spark stamps in epoch time. */
  val originEpochMs: Double = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxima = new ConcurrentHashMap[String, java.lang.Double]()
  private val parents = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(epochMs: Double): Double = epochMs - originEpochMs

  private def newId(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, startMs: Double, endMs: Double,
      attrs: Map[String, String] = Map.empty, id: Long = 0): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0) id else newId()
      spans.add(Span(sid, parent, name, startMs, endMs, attrs))
      sid
    }

  /** Time `body` as a span; the body receives the span id for children. */
  def span[T](name: String, parent: Long = 0, attrs: Map[String, String] = Map.empty)(
      body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val s = nowMs
      try body(id) finally record(name, parent, s, nowMs, attrs, id)
    }

  /** Sets a span's parent once the parent is known (e.g. a batch span
    * built from Spark's progress event after its sinkBatch child ended).
    */
  def reparent(id: Long, parent: Long): Unit = if (enabled) parents.put(id, parent)

  def add(counter: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(counter, _ => new DoubleAdder).add(v)

  def max(counter: String, v: Double): Unit =
    if (enabled) maxima.merge(counter, v, (a, b) => math.max(a, b))

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def maximum(name: String): Double =
    Option(maxima.get(name)).map(_.doubleValue).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
    .map(s => Option(parents.get(s.id)).fold(s)(p => s.copy(parent = p.longValue)))
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** One JSON object per line: spans, then the counters. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"span":${Json.str(s.name)},"id":${s.id},"parent":${s.parent},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":$attrs}"""
    } ++ counters.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""{"counter":${Json.str(k)},"value":${Json.num(v.sum)}}"""
    } ++ maxima.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""{"max":${Json.str(k)},"value":${Json.num(v.doubleValue)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
