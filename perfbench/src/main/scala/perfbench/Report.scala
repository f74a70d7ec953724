package perfbench

/** One named figure with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run found: operations attempted and failed (a wrong answer
  * counts as failed), and the figures it measured.
  */
final case class Result(attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], notes: Seq[(String, String)]) {

  def correct: Boolean = failed == 0

  /** The last line of the run's output: the figures of the requested kind. */
  def json(traced: Boolean): String = {
    val ms = (if (traced) perLayer else endToEnd).map { m =>
      s""""${m.name}": {"value": ${Report.num(m.value)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Report {
  /** The end-to-end figures every workload reports: the median set-up, the
    * median and 75th percentile of its per-operation latencies, and the
    * wall of one round of its script.
    */
  def endToEnd(setupS: Seq[Double], latencyMs: Seq[Double], roundS: Double): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setupS), "s"),
    Metric("p50_ms", Stats.percentile(latencyMs, 0.5), "ms"),
    Metric("p75_ms", Stats.percentile(latencyMs, 0.75), "ms"),
    Metric("round_s", roundS, "s"))

  /** Full-precision JSON number; non-finite values become -1. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.lang.Double.toString(v)

  def str(s: String): String = graft.api.Responses.JStr(s).render

  def lines(r: Result, traced: Boolean): Seq[String] =
    r.notes.map { case (k, v) => s"# $k: $v" } ++
      (r.endToEnd ++ (if (traced) r.perLayer else Nil)).map(m => f"${m.name}%-44s ${num(m.value)}%s ${m.unit}")
}
