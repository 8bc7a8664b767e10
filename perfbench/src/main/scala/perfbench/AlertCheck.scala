package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Comparisons of the program's outputs with the reference model.
  * Each returns its problems; empty means the output is correct.
  */
object AlertCheck {
  private val json = new ObjectMapper()
  val AvgTolerance = 1e-9

  /** One `HealthMonitor.alertJson` line. */
  def parse(line: String): Alert = {
    val n = json.readTree(line)
    def num(k: String) = { val v = n.get(k); require(v != null && v.isNumber, s"$k in $line"); v }
    Alert(n.get("patient_id").asText, num("window_start").asLong, num("window_end").asLong,
      num("avg_hr").asDouble, num("min_hr").asLong, num("max_hr").asLong,
      n.get("alert_type").asText)
  }

  /** Every expected window emitted exactly once with the expected
    * fields (avg to a relative tolerance), and nothing else.
    */
  def compare(expected: Map[(String, Long), Alert], got: Map[(String, Long), Alert]): Seq[String] = {
    val missing = (expected.keySet -- got.keySet).toSeq.sorted.take(3)
      .map(k => s"window missing: $k")
    val extra = (got.keySet -- expected.keySet).toSeq.sorted.take(3)
      .map(k => s"unexpected window: ${got(k)}")
    val wrong = expected.iterator.flatMap { case (k, e) =>
      got.get(k).filterNot(same(e, _)).map(g => s"expected $e, got $g")
    }.take(3).toSeq
    val counts =
      if (missing.isEmpty && extra.isEmpty) Nil
      else Seq(s"${expected.size} windows expected, ${got.size} emitted")
    counts ++ missing ++ extra ++ wrong
  }

  def same(e: Alert, g: Alert): Boolean =
    e.patient == g.patient && e.start == g.start && e.end == g.end &&
      e.min == g.min && e.max == g.max && e.alertType == g.alertType &&
      math.abs(e.avg - g.avg) <= AvgTolerance * math.max(1.0, math.abs(e.avg))

  /** The batch analysis' counts per (patient, alert_type). */
  def compareRollup(expected: Map[(String, String), Long],
      got: Seq[(String, String, Long)]): Seq[String] = {
    val keys = got.map(r => (r._1, r._2))
    val dup = keys.diff(keys.distinct).take(3).map(k => s"rollup key twice: $k")
    val g = got.map(r => (r._1, r._2) -> r._3).toMap
    val diff = (expected.keySet ++ g.keySet).toSeq
      .filter(k => expected.get(k) != g.get(k)).sortBy(_.toString).take(3)
      .map(k => s"rollup $k: expected ${expected.get(k)}, got ${g.get(k)}")
    val counts =
      if (diff.isEmpty) Nil else Seq(s"${expected.size} rollup rows expected, ${got.size} written")
    dup ++ counts ++ diff
  }
}
