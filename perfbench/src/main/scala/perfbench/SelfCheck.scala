package perfbench

import java.io.File

/** A check of the checks: each comparison the benchmark makes is fed
  * a correct output, which it must accept, and a planted wrong one,
  * which it must reject. Also leaves a small pagerank output and its
  * oracle SQL under `<work>/engine-out` for oracle.py's own planted
  * change.
  *
  *   SelfCheck <work dir>
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val failures = health() ++ engine(work)
    failures.foreach(f => System.err.println(s"[self-check] $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("self-check: every planted fault rejected")
  }

  /** (name, problems) must be non-empty for a fault, empty otherwise. */
  private def expect(name: String, problems: Seq[String], fault: Boolean): Option[String] =
    if (problems.nonEmpty == fault) None
    else Some(if (fault) s"$name: planted fault accepted" else s"$name: correct output rejected: $problems")

  def health(): Seq[String] = {
    val gen = new HealthGen(7, 40, 1735689600000L)
    val model = new HealthModel()
    val withLate = new HealthModel()
    for (k <- 0 until 200; p <- 0 until gen.patients) {
      val i = k.toLong * gen.patients + p
      val et = gen.t0 + k * 6000L + p * 150L
      val hr = gen.heartRate(p, et, i)
      model.add(gen.kindOf(i), p, et, hr); withLate.add(gen.kindOf(i), p, et, hr)
    }
    // one far-late reading: the model drops it, a faulty engine keeps it
    val lateEt = gen.t0 + 30000L
    model.addLate()
    withLate.add(HealthGen.Fast, 3, lateEt, 250L)
    val expected = model.alerts()
    val some = expected.keys.toSeq.sorted.head
    val a = expected(some)
    val flipped = expected.updated(some,
      a.copy(alertType = if (a.alertType == "normal") "tachycardia" else "normal"))
    val rollup = model.rollup().toSeq.map { case ((p, t), n) => (p, t, n) }
    val nullUser = rollup.groupBy(_._2).toSeq.map { case (t, rs) => ("NULL", t, rs.map(_._3).sum) }
    Seq(
      expect("alerts as modelled", AlertCheck.compare(expected, expected), fault = false),
      expect("one alert_type flipped", AlertCheck.compare(expected, flipped), fault = true),
      expect("one window dropped", AlertCheck.compare(expected, expected - some), fault = true),
      expect("one late event counted", AlertCheck.compare(expected, withLate.alerts()), fault = true),
      expect("avg off by 1e-6", AlertCheck.compare(expected,
        expected.updated(some, a.copy(avg = a.avg * (1 + 1e-6)))), fault = true),
      expect("rollup as modelled", AlertCheck.compareRollup(model.rollup(), rollup), fault = false),
      expect("rollup with NULL user ids", AlertCheck.compareRollup(model.rollup(), nullUser), fault = true),
      expect("one output line repeated", HrStream.readAlerts(
        Iterator.fill(2)(s"""{"patient_id":"${a.patient}","window_start":${a.start},""" +
          s""""window_end":${a.end},"avg_hr":${a.avg},"min_hr":${a.min},"max_hr":${a.max},""" +
          s""""alert_type":"${a.alertType}"}"""))._2, fault = true)
    ).flatten
  }

  /** pagerank on small seeded tables, written for oracle.py. */
  def engine(work: File): Seq[String] = {
    val ctx = new Ctx(7, 0, work, new Trace(false), new Report)
    ctx.spark = Main.session(work)
    try {
      val dir = new File(work, "tables")
      EngineLoops.tables(ctx.spark, dir, 7, 0.002)
      EngineLoops.query(ctx, dir.getPath, "pagerank", Some(new File(work, "engine-out")))
      Nil
    } finally ctx.spark.stop()
  }
}
