package graft.perfbench

/** The benchmark's arithmetic: medians, the tail-percentile rule, span self
  * time and open-loop latency. Kept free of Spark so the specs can pin it.
  */
object Stats {

  /** Minimum number of samples that must lie beyond a reported tail. */
  val TailSupport = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile as reported: its value, the percentile actually used
    * and the sample count behind it.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest nearest-rank percentile, at most `target`, that has at
    * least [[TailSupport]] samples strictly beyond its rank. With n samples
    * the rank k = min(ceil(target * n), n - 10), so p99 needs 1000 samples
    * and p90 needs 100; fewer samples give a lower percentile, never an
    * unsupported one. None when n <= 10.
    */
  def tail(xs: Seq[Double], target: Double): Option[Tail] = {
    val n = xs.size
    val k = math.min(math.ceil(target * n - 1e-9).toInt, n - TailSupport)
    if (k < 1) None
    else Some(Tail(xs.sorted.apply(k - 1), k.toDouble / n, n))
  }

  /** Milliseconds from when an open-loop request was due to when its reply
    * arrived. A sender that stalls makes every later request late, and that
    * wait counts against them, not only against the stalled one.
    */
  def dueLatencyMs(dueNs: Long, doneNs: Long): Double = (doneNs - dueNs) / 1e6

  /** How late the generator started a request against its schedule (ms,
    * never negative).
    */
  def latenessMs(dueNs: Long, sentNs: Long): Double =
    math.max(0L, sentNs - dueNs) / 1e6

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
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

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(children, start, end)
}
