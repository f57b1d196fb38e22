package graft.vecbench

import scala.collection.mutable

/** Spans of the traced run, recorded by the benchmark around its calls
  * into each layer and kept in memory until the run ends.
  *
  * Layers: `bench` (workload, round), `api` (one facade call and its plan
  * and exec parts), `spark` (a job the listener saw, a child of the plan
  * or exec part that was open when it started). Spans of one facade call
  * share its `call` id. Times are nanoseconds on one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long, call: Long = -1L) {
  def durNs: Long = endNs - startNs
}

object Trace {

  /** Length of the union of `intervals`, each first clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration less the part of it that its
    * children cover (overlapping children count once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(children.map(c => (c.startNs, c.endNs)), span.startNs, span.endNs)

  /** Self time of every span, by id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Seq.empty))).toMap
  }

  /** Per-layer roll-up: span count and the wall time (ms) the layer
    * owns. At every instant the deepest open span's layer owns the time,
    * so concurrent spans of one layer (overlapping Spark jobs) count once
    * and the layers' times add up to the root spans' time. */
  def rollup(spans: Seq[Span]): Map[String, (Int, Double)] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0
      var p = s.parent
      while (byId.contains(p)) { d += 1; p = byId(p).parent }
      d
    }
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val owned = mutable.Map[String, Long]().withDefaultValue(0L)
    val points = spans.flatMap(s => Seq(s.startNs, s.endNs)).distinct.sorted
    points.zip(points.drop(1)).foreach { case (a, b) =>
      val open = spans.filter(s => s.startNs <= a && b <= s.endNs)
      if (open.nonEmpty) owned(open.maxBy(s => depths(s.id)).layer) += b - a
    }
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> (ss.length, owned(layer) / 1e6) }
  }

  /** The innermost span of `candidates` that contains instant `t`. */
  def innermost(candidates: Seq[Span], t: Long): Option[Span] =
    candidates.filter(s => s.startNs <= t && t <= s.endNs).sortBy(_.durNs).headOption
}
