package perfbench

/** The per-layer metrics of a traced run, with unit and better
  * direction: the `per_layer` list of BENCHMARK.json. Every traced run
  * reports all of them; a workload that does not exercise a layer
  * reports 0 for its metrics (engine-loops makes no micro-batch, and
  * hr-stream runs no driver loop).
  */
object Layers {
  private def times(prefix: String, unit: String, names: String*) =
    names.map(n => (s"$prefix$n", unit, "lower"))

  val all: Seq[(String, String, String)] =
    times("streaming.live.", "ms", "batch_ms", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
      "commitOffsets_ms", "latestOffset_ms", "state_commit_ms", "sink_write_ms") ++
    Seq(("streaming.live.batches", "count", "higher"),
      ("streaming.live.rows_per_batch", "count", "lower"),
      ("streaming.live.alert_delay_tail_s", "s", "lower")) ++
    times("streaming.drain.", "ms", "batch_ms", "addBatch_ms") ++
    Seq(("streaming.state_rows", "count", "lower"), ("streaming.state_bytes", "bytes", "lower"),
      ("streaming.dropped_late", "count", "lower"),
      ("functions.invalid_dropped", "count", "lower"),
      ("functions.fallback_payloads", "count", "lower"),
      ("functions.parse_s", "s", "lower"),
      ("sources.rollup_s", "s", "lower"),
      ("gen.late_ms", "ms", "lower"), ("gen.backlog_end", "count", "lower"),
      ("jvm.gc_s", "s", "lower")) ++
    Seq("parse", "drain", "rollup").flatMap(step => Seq(
      (s"spark.$step.jobs", "count", "lower"), (s"spark.$step.tasks", "count", "lower"),
      (s"spark.$step.task_cpu_s", "s", "lower"),
      (s"spark.$step.shuffle_write_bytes", "bytes", "lower"),
      (s"spark.$step.spill_bytes", "bytes", "lower"), (s"spark.$step.max_task_ms", "ms", "lower"))) ++
    EngineLoops.Queries.flatMap(q => Seq(
      (s"operators.$q.build_s", "s", "lower"), (s"operators.$q.jobs_build", "count", "lower"),
      (s"operators.$q.exec_s", "s", "lower"), (s"operators.$q.jobs_exec", "count", "lower"),
      (s"operators.$q.tasks", "count", "lower"), (s"operators.$q.task_cpu_s", "s", "lower"),
      (s"operators.$q.shuffle_write_bytes", "bytes", "lower"),
      (s"operators.$q.max_task_ms", "ms", "lower")))

  /** The reported set: every catalogued metric, measured or 0. */
  def complete(measured: collection.Map[String, (Double, String)]): Seq[(String, (Double, String))] = {
    val unknown = measured.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the catalogue: $unknown")
    all.map { case (n, unit, _) =>
      val (v, u) = measured.getOrElse(n, (0.0, unit))
      require(u == unit, s"$n measured in $u, catalogued in $unit")
      n -> (v, unit)
    }
  }
}
