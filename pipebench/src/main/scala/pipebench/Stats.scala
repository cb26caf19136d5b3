package pipebench

/** Order statistics under the benchmark's reporting rules. */
object Stats {

  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The p-quantile of `values` (the median for p = 0.5, nearest rank
    * otherwise), or None when the sample cannot support it:
    *  - below 40 samples only the median is reported;
    *  - from 40 samples on, a percentile is reported only when at least
    *    `MinBeyond` distinct groups hold a sample above it.
    * `groups(i)` names the group of `values(i)`, e.g. the micro-batch
    * that delivered the event; pass each sample's index when every
    * sample stands alone. */
  def percentile(values: IndexedSeq[Double], groups: IndexedSeq[Long],
                 p: Double): Option[Double] = {
    require(values.length == groups.length, "one group per value")
    val n = values.length
    if (n == 0 || (p != 0.5 && n < 40)) None
    else {
      val v =
        if (p == 0.5) median(values)
        else values.sorted.apply(math.min(n - 1, math.max(0, math.ceil(p * n).toInt - 1)))
      if (n < 40) Some(v)
      else {
        val beyond = values.indices.iterator.filter(i => values(i) > v)
          .map(groups).toSet.size
        if (beyond >= MinBeyond) Some(v) else None
      }
    }
  }
}
