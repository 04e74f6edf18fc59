package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. A
   * failed operation enters as +Inf; the result is only interpolated between
   * two different values, so it reads +Inf, never NaN, where one decides it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (pos == lo || s(hi) == s(lo)) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p95(xs: Seq[Double]): Double = quantile(xs, 0.95)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** On-disk bytes of every regular file under `path`. */
  def diskBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def readJson(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** A number for run.py's JSON reader, which also takes NaN (not measured)
   * and Infinity (a failed operation missed every limit). */
  def jsonNum(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else java.math.BigDecimal.valueOf(d).toPlainString
}
