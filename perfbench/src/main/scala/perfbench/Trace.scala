package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is a name, a start and an end (nanoTime), the id of the span that
  * was open when it started, the phase it ran in and the iteration id. The
  * benchmark drives the program from one thread, so open spans form a
  * stack and a span's children never overlap: its self time is its
  * duration minus the sum of its direct children's durations. Counts are
  * recorded at the same call sites, keyed by iteration. Nothing is written
  * until [[toJson]] is called when the run exits. [[Trace.Off]] records
  * nothing, so one code path serves the untraced run.
  */
final class Trace(enabled: Boolean = true) {
  import Trace.Span

  private val finished = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var phase = ""
  private val counters = mutable.LinkedHashMap.empty[(Int, String), Double]

  var iteration = 0

  def span[A](name: String)(body: => A): A = if (!enabled) body else {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    if (open.isEmpty) phase = name
    val t0 = System.nanoTime()
    open = (id, name, t0) :: open
    try body
    finally {
      open = open.tail
      finished += Span(id, name, parent, phase, iteration, t0, System.nanoTime())
    }
  }

  def add(counter: String, v: Double = 1.0): Unit = if (enabled)
    counters((iteration, counter)) = counters.getOrElse((iteration, counter), 0.0) + v

  def spans(iter: Int): Seq[Span] = finished.filter(_.iteration == iter).toSeq

  def count(iter: Int, counter: String): Double =
    counters.getOrElse((iter, counter), 0.0)

  def toJson: Seq[Map[String, Any]] = finished.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "phase" -> s.phase,
      "iteration" -> s.iteration, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.toSeq ++ counters.map { case ((i, n), v) =>
    Map("counter" -> n, "iteration" -> i, "value" -> v)
  }
}

object Trace {

  val Off = new Trace(enabled = false)

  final case class Span(id: Int, name: String, parent: Int, phase: String,
      iteration: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Self time of every span in `spans`: duration minus direct children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}
