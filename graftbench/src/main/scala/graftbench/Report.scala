package graftbench

import scala.collection.mutable

/** Metrics, correctness verdicts and operation counts of one run, and the
  * JSON line that ends its output. `failed` always reads 0: an operation
  * that throws ends the run with a non-zero exit and no result line. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val extra = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val host = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, String]()
  val violations = mutable.ArrayBuffer[String]()
  var attempted = 0L

  def check(ok: Boolean, what: => String): Unit = if (!ok) violations += what
  def correct: Boolean = violations.isEmpty
  def exitCode: Int = if (correct) 0 else 1

  /** The last stdout line: end-to-end metrics untraced, per-layer traced. */
  def resultLine(traced: Boolean): String = {
    val ms = if (traced) layers else endToEnd
    val body = ms.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": 0, "metrics": {$body}}"""
  }

  /** Human-readable block: every metric by name and unit, host, verdicts. */
  def humanLines(workload: String): Seq[String] = {
    def fmt(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.toSeq.map { case (k, (v, u)) => f"  $k%-40s ${Json.num(v)}%s $u" }
    Seq(s"workload $workload") ++
      host.toSeq.map { case (k, v) => f"  host.$k%-35s ${Json.num(v)}" } ++
      notes.toSeq.map { case (k, v) => f"  $k%-40s $v" } ++
      fmt(endToEnd) ++ fmt(extra) ++ fmt(layers) ++
      Seq(f"  error_rate                               0 ratio (0/$attempted)") ++
      (if (correct) Seq("  correctness: OK") else violations.map("  VIOLATION: " + _))
  }

  def toJson(workload: String, seed: Long, traced: Boolean, spans: String): String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,""" +
      s""""host":${host.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")},""" +
      s""""notes":${notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
      s""""end_to_end":${obj(endToEnd)},"workload_metrics":${obj(extra)},"per_layer":${obj(layers)},""" +
      s""""correct":$correct,"violations":${violations.map(Json.str).mkString("[", ",", "]")},""" +
      s""""attempted":$attempted,"failed":0,"spans":$spans}"""
  }
}

object Json {
  def str(s: String): String = graft.Bench.jsonStr(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Order statistics used for every timing. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** Highest of p50/p90/p99 that has at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p90", 0.90)).collectFirst {
      case (n, q) if xs.size * (1 - q) >= 10 - 1e-9 => (n, quantile(xs, q))
    }
}
