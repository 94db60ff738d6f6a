package perfbench

/** One traced interval. Times are epoch milliseconds; the benchmark's
  * own spans carry sub-millisecond fractions, listener spans whole ms.
  * `parent` is 0 for an op's root span. Spans of one op share `op`.
  */
final case class Span(id: Long, op: Long, parent: Long, layer: String,
    name: String, start: Double, end: Double) {
  def duration: Double = end - start
}

object Spans {

  /** Each span's self time: its duration minus the part of its interval
    * that its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      s.id -> math.max(0.0, s.duration - covered)
    }.toMap
  }

  /** Self time summed per layer. */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** The deepest of `candidates` whose interval contains `t`, by nesting
    * depth in `candidates` itself; `fallback` when none does.
    */
  def enclosing(candidates: Seq[Span], t: Double, fallback: Long): Long = {
    val byId = candidates.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).map(depth(_) + 1).getOrElse(0)
    val hits = candidates.filter(s => s.start <= t && t <= s.end)
    if (hits.isEmpty) fallback else hits.maxBy(depth).id
  }
}
