package graftbench

/** Summary statistics and the bookkeeping rules the workloads share. */
object Stats {

  /** The middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile (`p` in 0..100); 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Samples strictly above the nearest-rank `p` percentile's rank. The
    * percentile rule: report a percentile only when this is at least 10.
    */
  def samplesBeyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Open-loop latency per operation, timed from when it was DUE, not from
    * when it was actually sent: a stall delays every operation queued
    * behind it, and timing from the (late) send would hide that wait
    * (coordinated omission). `doneNs` misses mean "not done by `endNs`"
    * and count as `endNs - due`, a lower bound that still shows the stall.
    */
  def dueLatenciesMs(dueNs: Seq[Long], doneNs: Int => Option[Long], endNs: Long): Seq[Double] =
    dueNs.indices.map { i =>
      val d = dueNs(i)
      (doneNs(i).getOrElse(math.max(endNs, d)) - d) / 1e6
    }

  /** Which unit holds stream row `offset`, when the units (the blocks a
    * connection sent, or the micro-batches that read them) cover consecutive
    * row ranges and `ends(i)` is the exclusive end offset of unit `ids(i)`,
    * ascending. None past the last unit.
    */
  def holderOf[A](ids: IndexedSeq[A], ends: IndexedSeq[Long], offset: Long): Option[A] = {
    var lo = 0
    var hi = ends.length
    while (lo < hi) { // first end > offset
      val mid = (lo + hi) >>> 1
      if (ends(mid) > offset) hi = mid else lo = mid + 1
    }
    if (lo < ids.length) Some(ids(lo)) else None
  }

  /** Length of `[from, to)` not covered by any of `intervals`. */
  def uncovered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (to - from) - covered)
  }
}
