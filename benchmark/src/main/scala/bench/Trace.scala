package bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed interval on the `System.nanoTime` clock. `parent` is
  * [[Span.Root]] for an op's root span and [[Span.Detached]] for spans
  * recorded off the driver thread (Spark listeners, the JDBC proxy)
  * until [[Spans.attach]] places them under the innermost driver span
  * that contains their start.
  */
final case class Span(id: Int, parent: Int, traceId: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {
  val Root = -1
  val Detached = -2
}

object Spans {

  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of that
    * interval its children cover (children may overlap each other,
    * e.g. parallel tasks, so the union is taken).
    */
  def selfTime(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  /** Gives each detached span the innermost driver span containing its
    * start as parent, and that span's trace id. Driver spans nest, so
    * the innermost container is the one that started last. Detached
    * spans outside every driver span (set-up work) become roots of
    * trace 0.
    */
  def attach(spans: Seq[Span]): Seq[Span] = {
    val (detached, driver) = spans.partition(_.parent == Span.Detached)
    val byStart = driver.sortBy(_.start).toArray
    val starts = byStart.map(_.start)
    detached.map { d =>
      // driver spans starting at or before d.start, latest first
      var i = java.util.Arrays.binarySearch(starts, d.start) match {
        case k if k >= 0 =>
          var j = k
          while (j + 1 < starts.length && starts(j + 1) == d.start) j += 1
          j
        case k => -k - 2
      }
      // later-starting spans may have ended before d began; the first
      // one back that still contains d is the innermost container
      while (i >= 0 && !(byStart(i).start <= d.start && d.start < byStart(i).end))
        i -= 1
      if (i >= 0) d.copy(parent = byStart(i).id, traceId = byStart(i).traceId)
      else d.copy(parent = Span.Root, traceId = 0)
    } ++ driver
  }
}

/** In-memory span recorder. With `on = false` every call runs its body
  * and records nothing, so the untraced run pays no tracing cost.
  * Driver-thread spans nest through a stack; other threads record
  * detached spans.
  */
final class Tracer(val on: Boolean) {
  private final case class Open(id: Int, parent: Int, traceId: Int,
      name: String, start: Long)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private var stack: List[Open] = Nil
  private var traces = 0
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()

  /** Converts a listener timestamp (epoch ms) to the span clock. */
  def fromEpochMs(ms: Long): Long = baseNano + (ms - baseEpochMs) * 1000000L

  /** Runs one op (tick, day or query) as the root span of a new trace. */
  def op[T](name: String)(body: => T): T =
    if (!on) body else { begin(name); try body finally end() }

  /** Opens an op's root span; [[end]] closes it. For ops whose start
    * and end fall in different callbacks.
    */
  def begin(name: String): Unit = if (on) {
    traces += 1
    stack ::= Open(ids.incrementAndGet(), Span.Root, traces, name, System.nanoTime())
  }

  def end(): Unit = if (on) {
    val o = stack.head
    stack = stack.tail
    done.add(Span(o.id, o.parent, o.traceId, o.name, o.start, System.nanoTime()))
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (parent, trace) = stack.headOption.fold((Span.Root, 0))(o => (o.id, o.traceId))
      stack ::= Open(ids.incrementAndGet(), parent, trace, name, System.nanoTime())
      try body finally end()
    }

  /** Records a span measured on another thread or by a listener. */
  def detached(name: String, start: Long, end: Long): Unit =
    if (on) done.add(Span(ids.incrementAndGet(), Span.Detached, 0, name, start, end))

  def spans: Seq[Span] = Spans.attach(done.asScala.toSeq)
}

/** Queries over a finished trace. */
final class TraceView(val spans: Seq[Span]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val self = Spans.selfTime(spans)

  val roots: Seq[Span] = spans.filter(s => s.parent == Span.Root && s.traceId > 0)

  /** Spans of the ops (set-up work outside any op is left out). */
  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.traceId > 0)
  def seconds(name: String): Double = named(name).map(_.dur).sum / 1e9
  def count(name: String): Int = named(name).size

  /** True if `s` has an ancestor named `name`. */
  def under(s: Span, name: String): Boolean = {
    var p = byId.get(s.parent)
    while (p.isDefined && p.get.name != name) p = byId.get(p.get.parent)
    p.isDefined
  }

  /** Share of the ops' wall covered by their direct children, the
    * module spans. An op is one or two module calls, so this is close
    * to 1 by construction: it only shows that no op time falls outside
    * a module call.
    */
  def coverage: Double = {
    val rootIds = roots.map(_.id).toSet
    covering(s => rootIds.contains(s.parent))
  }

  /** Share of the ops' wall covered by leaf spans, those without
    * children: Spark jobs, planning phases, JDBC transactions, frame
    * building. The rest is driver time between them.
    */
  def leafCoverage: Double = {
    val parents = spans.map(_.parent).toSet
    covering(s => !parents.contains(s.id))
  }

  private def covering(pick: Span => Boolean): Double = {
    val byTrace = spans.filter(s => s.parent != Span.Root && pick(s)).groupBy(_.traceId)
    val wall = roots.map(_.dur).sum
    val cov = roots.map(r => Spans.covered(r.start, r.end,
      byTrace.getOrElse(r.traceId, Nil).map(c => (c.start, c.end)))).sum
    if (wall == 0) 0.0 else cov.toDouble / wall
  }

  /** Op wall not covered by any Spark job, per root. */
  def outside(jobName: String): Double = {
    val jobs = named(jobName)
    roots.map { r =>
      r.dur - Spans.covered(r.start, r.end,
        jobs.filter(_.traceId == r.traceId).map(j => (j.start, j.end)))
    }.sum / 1e9
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val base = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":${Json.str(s.name)},""" +
        s""""start_us":${(s.start - base) / 1000},"end_us":${(s.end - base) / 1000},""" +
        s""""self_us":${self(s.id) / 1000}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
