package perfbench

import scala.collection.mutable

/** Summary statistics shared by every workload. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile that never rests on fewer than `beyond` samples.
    *
    * The reported rank is the nearest rank of `p` (1-based ceil(p * n)),
    * lowered until at least `beyond` samples lie strictly above it. So
    * the value is the true p-th percentile only once a run has
    * `beyond / (1 - p)` samples (100 for p90); below that it is the
    * highest percentile the run can support. With `beyond` or fewer
    * samples no rank qualifies and the median is reported instead.
    */
  def tailPercentile(xs: Seq[Double], p: Double, beyond: Int = 10): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) median(s)
    else {
      val nearest = math.ceil(p * n).toInt.max(1) // 1-based
      s(math.min(nearest, n - beyond) - 1)
    }
  }
}

/** Operations attempted and failed, per route. An operation fails on a
  * non-2xx response, an exception, or a failed output check.
  */
final class Tally {
  private val attempts = mutable.LinkedHashMap.empty[String, Long]
  private val failures = mutable.LinkedHashMap.empty[String, Long]

  def record(route: String, ok: Boolean): Unit = synchronized {
    attempts(route) = attempts.getOrElse(route, 0L) + 1
    if (!ok) failures(route) = failures.getOrElse(route, 0L) + 1
  }

  def attempted: Long = synchronized(attempts.values.sum)
  def failed: Long = synchronized(failures.values.sum)
  def failedByRoute: Map[String, Long] = synchronized(failures.toMap)

  def failedFrac: Double = {
    val a = attempted
    if (a == 0) 0.0 else failed.toDouble / a
  }
}

/** Latency samples per key, safe to feed from several client threads. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(key: String, v: Double): Unit = synchronized {
    m.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }

  def get(key: String): Seq[Double] = synchronized(m.get(key).map(_.toSeq).getOrElse(Seq.empty))
  def counts: Map[String, Int] = synchronized(m.map { case (k, v) => k -> v.size }.toMap)
}
