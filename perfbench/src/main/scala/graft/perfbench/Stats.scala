package graft.perfbench

import scala.math.BigDecimal.RoundingMode

/** Pure arithmetic the benchmark reports with: order statistics, the
  * expected 1BRC answer from exact tallies, and span self times. Kept free
  * of Spark so the unit tests pin it directly. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default, R type 7): the value
    * at fractional rank (n - 1) * p / 100 of the sorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = (s.size - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** Exact per-station state in integer tenths, as the generator counts it. */
  final case class Tally(min: Long, max: Long, sum: Long, count: Long) {
    def add(t: Long): Tally =
      Tally(math.min(min, t), math.max(max, t), sum + t, count + 1)
    def merge(o: Tally): Tally =
      Tally(math.min(min, o.min), math.max(max, o.max), sum + o.sum,
        count + o.count)
  }
  object Tally {
    val empty: Tally = Tally(Long.MaxValue, Long.MinValue, 0L, 0L)
  }

  /** The answer row (min, mean, max) the flagship query must return for a
    * tally. Mirrors the program's tenths projection: min/max are
    * tenths / 10.0; the mean is sum / 10.0 / count rounded to one decimal
    * as round(x * 10) / 10.0, where round is HALF_UP on the double's
    * shortest decimal form (Spark's round on doubles) — so -7.25 → -7.3
    * and 7.25 → 7.3. */
  def expectedRow(t: Tally): (Double, Double, Double) = {
    val mean = t.sum.toDouble / 10.0 / t.count.toDouble
    val mean1 = BigDecimal(mean * 10.0).setScale(0, RoundingMode.HALF_UP)
      .toDouble / 10.0
    (t.min.toDouble / 10.0, mean1, t.max.toDouble / 10.0)
  }

  /** Unsigned byte order of the UTF-8 encodings: how Spark sorts strings. */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      java.util.Arrays.compareUnsigned(x, y)
    }
  }

  /** A timed interval. `parent` is the enclosing span's id, -1 at the top. */
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, run: String) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of every span: its duration minus its direct children's. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val childSum = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** Innermost span whose interval holds time `t` (ties go to the latest
    * start), or -1. Used to give listener job and stage spans a parent. */
  def enclosing(spans: Seq[Span], t: Long): Int = {
    val holding = spans.filter(s => s.startNs <= t && t <= s.endNs)
    if (holding.isEmpty) -1 else holding.maxBy(_.startNs).id
  }
}
