package graftbench

/** The benchmark's own arithmetic, kept pure so `SelfTest` can pin it. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail to report for `n` samples: the highest of the standard
    * percentiles that still has at least ten samples beyond it, or None
    * when fewer than eleven samples exist (only the median is
    * meaningful then). */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9)

  /** Ops that threw or failed their output check ÷ ops attempted. */
  def errorRatio(failed: Int, attempted: Int): Double =
    if (attempted == 0) 1.0 else failed.toDouble / attempted

  /** 1 − task time ÷ (wall × cores), clamped to [0, 1]: the share of the
    * executor slots that sat idle while the layer held the client. */
  def slotIdleRatio(taskMs: Double, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0 || cores <= 0) 0.0
    else math.min(1.0, math.max(0.0, 1.0 - taskMs / (wallMs * cores)))

  /** Samples per kind: (kind's median latency ms, sample count, mean work
    * per op). */
  def byKind(s: Seq[Sample]): Map[String, (Double, Int, Double)] =
    s.groupBy(_.kind).map { case (k, xs) =>
      k -> ((median(xs.map(_.ms)), xs.size, xs.map(_.work).sum / xs.size))
    }

  /** Mean op latency with every op taken at its kind's median:
    * Σ c_k·m_k ÷ Σ c_k. One slow repeat of an op moves it only as far as it
    * moves that kind's median. */
  def typicalMs(s: Seq[Sample]): Double = {
    val k = byKind(s).values
    k.map { case (m, c, _) => m * c }.sum / k.map(_._2).sum
  }

  /** Work per second with every op taken at its kind's median:
    * Σ c_k·w_k ÷ Σ c_k·m_k. */
  def workPerS(s: Seq[Sample]): Double = {
    val k = byKind(s).values
    k.map { case (_, c, w) => c * w }.sum / (k.map { case (m, c, _) => m * c }.sum / 1000.0)
  }
}
