package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * value with exactly ten larger samples. Undefined (NaN) below 11
    * samples. */
  final case class Tail(value: Double, percentile: Double, samples: Int)
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    if (n < 11) Tail(Double.NaN, Double.NaN, n)
    else Tail(xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Host-noise record: CPU steal and the busy share of other processes
  * over the run, from /proc/stat (whole machine) and /proc/self/stat
  * (this JVM), both in kernel jiffies. */
object HostNoise {
  final case class Sample(total: Long, steal: Long, busy: Long, self: Long)

  def sample(): Option[Sample] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), StandardCharsets.UTF_8)
      val g = s.substring(s.lastIndexOf(')') + 1).trim.split("\\s+")
      Some(Sample(f.sum, f.lift(7).getOrElse(0L), f.sum - idle, g(11).toLong + g(12).toLong))
    } catch { case _: Exception => None }

  /** (steal %, other-process busy %) between two samples. */
  def between(a: Option[Sample], b: Option[Sample]): Option[(Double, Double)] =
    for (x <- a; y <- b if y.total > x.total) yield {
      val dt = (y.total - x.total).toDouble
      (100.0 * (y.steal - x.steal) / dt,
        100.0 * math.max(0L, (y.busy - x.busy) - (y.self - x.self)) / dt)
    }
}

object Report {
  /** A JSON number with all its digits (NaN/∞ become null). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
