package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Wall clock in epoch nanoseconds that advances with `System.nanoTime`,
  * so due times, call times and listener receipt times share one scale. */
object Clock {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorMono = System.nanoTime()
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorMono)
  def ofMono(mono: Long): Long = anchorEpochNs + (mono - anchorMono)
}

case class Span(name: String, startNs: Long, endNs: Long, parent: String, id: String)

/** In-memory span recorder; disabled, it records nothing. It also sums
  * the time spent inside itself, so a traced run can state what tracing
  * cost it. */
class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val overhead = new AtomicLong()

  def record(name: String, startNs: Long, endNs: Long, parent: String, id: String): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      spans.add(Span(name, startNs, endNs, parent, id))
      overhead.addAndGet(System.nanoTime() - t0)
    }

  /** Time spent by listener callbacks that exist only in traced runs. */
  def addOverhead(ns: Long): Unit = overhead.addAndGet(ns)
  def overheadMs: Double = overhead.get / 1e6
  def all: Seq[Span] = spans.asScala.toSeq

  /** One JSON object per line: name, start/end (epoch ns), parent, id, run. */
  def writeTo(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.write(Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "id" -> s.id, "run" -> runId)))
      w.newLine()
    } finally w.close()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
