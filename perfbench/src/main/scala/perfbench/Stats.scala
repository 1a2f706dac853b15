package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Order statistics, host counters and JSON output. */
object Stats {

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = mean(pts.map(_._1))
      val my = mean(pts.map(_._2))
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (den == 0) 0.0
      else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }

  /** Process high-water resident set, MB (Linux /proc/self/status). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  /** JSON reader and writer for result, fingerprint and trace files;
    * Scala maps and sequences serialize as objects and arrays. */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def json(v: Any): String = Json.writeValueAsString(v)

  /** Insertion-ordered metric sheet: name -> (value, unit). A value that
    * is not a number (an empty sample) is written as null. */
  final class Sheet {
    val rows = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, v: (Double, String)): Unit = rows(name) = v
    def toJson: collection.Map[String, Any] =
      rows.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any](
          "value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)
      }
  }
}
