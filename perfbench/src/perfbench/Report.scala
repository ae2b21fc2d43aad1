package perfbench

import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper

/** Percentiles, metric accumulation and the result file the runner
  * prints from.
  */
object Stats {

  /** Percentile by linear interpolation between the two closest ranks
    * (q in [0, 1]); 0.0 for no samples.
    */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Traced runs alternate with untraced ones on the same inputs,
    * untraced first on even steps. The second of a pair reuses what
    * the first left warm (generated code for the same clock literal),
    * so each side's p50 is taken over the steps where it ran first.
    */
  def firstRunMedians(untraced: Seq[Double], traced: Seq[Double]): (Double, Double) =
    (median(untraced.indices.filter(_ % 2 == 0).map(untraced)),
      median(traced.indices.filter(_ % 2 == 1).map(traced)))

  /** How many samples lie above the q-percentile. */
  def beyond(xs: Iterable[Double], q: Double): Int = {
    val p = pct(xs, q)
    xs.count(_ > p)
  }
}

/** One run's outcome: metric values by name with their units, counts
  * of attempted and failed operations, and human-readable lines that
  * carry sample counts and ratio bases.
  */
final class Report {
  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  val lines = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var checksOk = true

  /** A NaN or infinite value is a broken measurement (a ratio over an
    * empty base): it fails the run instead of being reported.
    */
  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics += ((name, value, unit))
  }

  def line(s: String): Unit = {
    lines += s
    System.err.println(s"[perfbench] $s")
  }

  /** JSON object: correct / attempted / failed / metrics / report. */
  def toJson: String = {
    val om = new ObjectMapper
    val root = om.createObjectNode()
    root.put("correct", checksOk && failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (n, v, u) => ms.putObject(n).put("value", v).put("unit", u) }
    val rs = root.putArray("report")
    lines.foreach(l => rs.add(l))
    om.writeValueAsString(root)
  }
}
