package perfbench

/** Order statistics on measured samples. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-op lags (ms) of log positions `[from, until)`: the commit time
    * of the first batch whose end offset lies past the op, minus the
    * op's due time. Lags run from when an op was due, not from when the
    * generator got it out, so a late generator is charged to the lag. */
  def lags(batches: Seq[BatchRec], from: Int, until: Int,
           due: Int => Double): Vector[Double] = {
    val ends = batches.filter(_.endPos.nonEmpty).sortBy(_.endPos.get)
      .toIndexedSeq
    var bi = 0
    (from until until).map { i =>
      while (ends(bi).endPos.get <= i) bi += 1
      ends(bi).commitMs - due(i)
    }.toVector
  }

  /** Relative spread of consecutive samples: |a - b| / max(a, b). */
  def relDiff(a: Double, b: Double): Double =
    if (a == b) 0.0 else math.abs(a - b) / math.max(math.abs(a), math.abs(b))
}
