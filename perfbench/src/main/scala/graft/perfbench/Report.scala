package graft.perfbench

import scala.collection.mutable

/** What one run hands back: op counts, failures, and named metrics. */
final class Report {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics (untraced timing). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs only). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own figures, printed beside the result for reading. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val env = mutable.LinkedHashMap.empty[String, String]

  /** Count one op; a thrown exception or a wrong answer is a failure. */
  def check(what: => String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(Report.jstr).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"detail":${obj(detail)},""" +
      s""""env":${env.map { case (k, v) => s"${Report.jstr(k)}:${Report.jstr(v)}" }.mkString("{", ",", "}")}}"""
  }
}

object Report {
  /** A JSON string literal: quote, backslash and every control character escaped. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stat {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def q(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def p50(xs: Seq[Double]): Double = q(xs, 0.5)
  def p90(xs: Seq[Double]): Double = q(xs, 0.9)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Geometric mean: the summary TPC uses for a suite of unlike queries,
    * so no single long query outweighs the rest.
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
