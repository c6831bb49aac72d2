package perfbench

/** One timed call into a layer. Times are epoch nanoseconds so they line
  * up with the millisecond timestamps of Spark's listener events. `op` is
  * the operation the span belongs to; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of half-open intervals `[start, end)`. Empty and
    * inverted intervals count for nothing. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd != Long.MinValue) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd != Long.MinValue) covered += curEnd - curStart
    covered
  }

  /** The part of `[startNs, endNs)` that none of `intervals` covers, after
    * clipping each interval to that window. Children that overlap each
    * other are counted once. */
  def uncoveredNs(startNs: Long, endNs: Long, intervals: Seq[(Long, Long)]): Long =
    (endNs - startNs) - unionNs(intervals.map { case (s, e) =>
      (math.max(s, startNs), math.min(e, endNs)) })

  /** A span's self time: its duration minus the time its direct children
    * cover. */
  def selfNs(span: Span, all: Seq[Span]): Long =
    uncoveredNs(span.startNs, span.endNs,
      all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)))
}
