package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The mean, over operation types, of each type's median latency. With
    * one type it is the median. A workload that mixes types of different
    * cost (`query`) has a plain median that falls between two types' costs
    * and jumps from one to the other between runs; this does not. */
  def meanTypeMedian(lat: Seq[(String, Double)]): Double =
    if (lat.isEmpty) 0.0
    else {
      val meds = lat.groupBy(_._1).values.map(xs => median(xs.map(_._2))).toSeq
      meds.sum / meds.size
    }

  /** Nearest-rank percentile: the ceil(p/100 * n)-th smallest sample. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(rank(s.size, p), 1) - 1)
  }

  private def rank(n: Int, p: Int): Int = ((p.toLong * n + 99) / 100).toInt

  /** The highest whole percentile (1..99) that leaves at least `minBeyond`
    * samples above its nearest rank, or None when no percentile does. A tail
    * percentile with fewer samples beyond it is one or two outliers, not a
    * tail. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - rank(n, p) >= minBeyond)

  /** Length of the union of closed-open intervals, each clipped to
    * [lo, hi). */
  def coveredLength(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children are counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(start, end, children)
}
