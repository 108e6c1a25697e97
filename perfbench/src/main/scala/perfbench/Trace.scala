package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are kept until
  * the run ends and written out once; with tracing off, `span` runs
  * the body and records nothing.
  *
  * Times are `System.nanoTime`. Events Spark reports in epoch
  * milliseconds are placed on the same axis through [[Trace.fromEpochMs]].
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val current = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  def record(name: String, request: String, startNs: Long, endNs: Long,
             parent: Option[Long] = current.get()): Long = synchronized {
    nextId += 1
    if (enabled) spans += Span(nextId, parent, name, request, startNs, endNs)
    nextId
  }

  /** Times `body` as span `name`; spans opened inside it on the same
    * thread become its children. Returns the body's value and its
    * wall time in nanoseconds (measured whether or not tracing is on). */
  def span[T](name: String, request: String)(body: => T): (T, Long) = {
    val id = synchronized { nextId += 1; nextId }
    val parent = current.get()
    current.set(Some(id))
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      if (enabled) synchronized {
        spans += Span(id, parent, name, request, t0, t1)
      }
      (v, t1 - t0)
    } finally current.set(parent)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent.getOrElse("null")},"name":"${s.name}","request":"${s.request}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Long, parent: Option[Long], name: String,
                        request: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  /** An epoch-millisecond instant on the `nanoTime` axis. */
  def fromEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** A `nanoTime` instant as fractional epoch milliseconds. */
  def toEpochMs(ns: Double): Double = anchorMs + (ns - anchorNs) / 1e6

  /** Self time of every span: its duration minus the part of its
    * interval its direct children cover (overlapping children count
    * once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(Some(s.id), Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - Stats.covered(ch, s.startNs, s.endNs))
    }.toMap
  }

  /** For each root span, |root duration − Σ self times in its subtree|.
    * Zero when children nest inside their parent without overlapping
    * each other — the condition under which self times partition a
    * request's wall time into layers. */
  def reconcileErrorNs(spans: Seq[Span]): Map[Long, Long] = {
    val self = selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Long =
      self(id) + kids.getOrElse(Some(id), Nil).map(c => subtree(c.id)).sum
    spans.filter(_.parent.isEmpty).map(r => r.id -> math.abs(r.durNs - subtree(r.id))).toMap
  }
}
