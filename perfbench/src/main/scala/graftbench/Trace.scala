package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (id, parent, name, start, end), all
  * spans of a run share one run id, and the tree is workload → batch or
  * query → phase. Spans stay in memory until [[write]] at the end of the
  * run. When tracing is off every call is a pass-through. */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace.Span

  private val ids = new AtomicLong()
  private val spans = ArrayBuffer.empty[Span]
  // Spark events and progress reports carry wall-clock milliseconds;
  // spans use nanoTime.
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def wallMsToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  /** Record a span that has already ended (times from System.nanoTime). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.synchronized(spans += Span(id, parent, name, startNs, endNs))
      id
    }

  /** Time `body` as a span; `body` receives the new span's id so that
    * child spans can name it as their parent. */
  def span[T](name: String, parent: Long)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Hang every span that has no parent under the shortest of the
    * `candidates` spans whose interval contains it (within `slackNs`, for
    * spans built from millisecond timestamps). */
  def adopt(candidates: Set[Long], slackNs: Long): Unit = spans.synchronized {
    val cs = spans.filter(s => candidates(s.id)).toList
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.parent == 0 && !candidates(s.id))
        cs.filter(c => c.startNs - slackNs <= s.startNs && s.endNs <= c.endNs + slackNs)
          .minByOption(_.durNs).foreach(c => spans(i) = s.copy(parent = c.id))
    }
  }

  /** Write every span with its self time (its duration minus the part of
    * it that its children cover) as JSON. */
  def write(path: Path): Unit = {
    val all = this.all
    val children = all.groupBy(_.parent)
    val origin = if (all.isEmpty) 0L else all.map(_.startNs).min
    val lines = all.sortBy(_.startNs).map { s =>
      val self = s.durNs - Trace.covered(s, children.getOrElse(s.id, Nil))
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_us":${(s.startNs - origin) / 1000},""" +
        s""""end_us":${(s.endNs - origin) / 1000},"self_us":${self / 1000}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Nanoseconds of `s` covered by the union of its children's intervals. */
  def covered(s: Span, kids: Seq[Span]): Long = {
    var total = 0L
    var end = Long.MinValue
    kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
