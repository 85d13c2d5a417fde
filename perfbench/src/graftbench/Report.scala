package graftbench

import scala.collection.mutable

object Json {
  /** A JSON string literal: quotes, backslashes and control characters
    * escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What one run measured, serialized as one JSON object:
  * `e2e` (the contract metrics), `detail` (every named end-to-end
  * metric with its unit), `layers` (per-layer metrics of a traced run)
  * and `info` (fingerprint and run settings). */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  private val t0 = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[String]

  /** Note that a phase of the run ended (wall seconds since start). */
  def phase(name: String): Unit = synchronized {
    phases += f"$name=${(System.nanoTime() - t0) / 1e9}%.1f"
    info("phases_s") = phases.mkString(",")
  }

  /** Count one checked output; `err` is the mismatch, if any. */
  def check(what: String, err: Option[String]): Unit = synchronized {
    attempted += 1
    err.foreach { e =>
      failed += 1
      if (errors.size < 20) errors += s"$what: $e"
    }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  private def units(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}" }
      .mkString("{", ",", "}")

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${e2e.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
      s""""detail":${units(detail)},"layers":${units(layers)},""" +
      s""""info":${info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
}
