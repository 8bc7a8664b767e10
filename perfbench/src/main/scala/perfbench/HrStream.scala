package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import graft.functions.{FastEventParse, HealthFunctions}
import graft.sources.AlertStore
import graft.streaming.HealthMonitor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.collection.mutable

/** The reference streaming job, `HealthMonitor.alerts` →
  * `HealthMonitor.alertJson` with its defaults (5 s watermark,
  * 1-minute tumbling window), in two phases.
  *
  * Drain: a fixed backlog of payload files in event-time order, read
  * by the file source in large micro-batches and written as alert JSON
  * files, which the reference batch analysis (`AlertStore`) then rolls
  * up. Large batches make per-row parse and state work most of the
  * time: `throughput_per_s`.
  *
  * Live: one generator thread adds a tick of payloads to a memory
  * stream every `TickMs`, on schedule whatever the engine does (an
  * open loop), and stamps each tick's creation time. Event time runs
  * `Speedup` times faster than wall time so that a window closes every
  * few hundred milliseconds. The sink stamps each micro-batch's
  * emission time; the alert delay of a window is its emission minus
  * the creation of the first event that moved the watermark past its
  * end. Small batches make the per-batch fixed cost most of it:
  * `latency_p50_s`.
  */
object HrStream {
  val Patients = 500
  val DrainTicks = 400           // × Patients payloads in the backlog
  val DrainTickEt = 6000L        // event ms between one patient's readings
  val DrainFiles = 8
  val DrainFilesPerTrigger = 4   // → 2 micro-batches of 100k payloads, 4 tasks each
  val DrainPasses = 3
  val TickMs = 100L              // live: one tick = Patients payloads
  val Speedup = 240L             // live: event ms per wall ms
  val LiveTickEt: Long = TickMs * Speedup
  val JitterMs = 4000            // live: out of order, inside the watermark
  val LatePerTick = 5            // live: far-late payloads per tick
  val LateMs = 3600000L          // live: how far behind a late event is
  val WarmTicks = 5              // live: ticks fed one batch each, untimed
  val WarmMs = 2000L             // live: closes in this prefix are not timed

  /** The events of tick k: every patient once, spread across the
    * tick's event-time span, with live jitter if asked.
    */
  private def tickEvents(gen: HealthGen, k: Int, tickEt: Long, jitter: Boolean)(
      f: (Long, Int, Long) => Unit): Unit = {
    var p = 0
    while (p < gen.patients) {
      val i = k.toLong * gen.patients + p
      val j = if (jitter) HealthGen.draw(gen.seed, i, 0, 21, JitterMs) else 0
      f(i, p, gen.t0 + k * tickEt + p * tickEt / gen.patients - j)
      p += 1
    }
  }

  /** Writes the drain backlog; returns its reference model. */
  def writeBacklog(gen: HealthGen, ticks: Int, files: Int, dir: File): (HealthModel, Long) = {
    Disk.rm(dir); dir.mkdirs()
    val model = new HealthModel()
    val perFile = (ticks + files - 1) / files
    var n = 0L
    for (f <- 0 until files) {
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$f%03d.txt")), UTF_8), 1 << 20)
      try for (k <- f * perFile until math.min(ticks, (f + 1) * perFile))
        tickEvents(gen, k, DrainTickEt, jitter = false) { (i, p, et) =>
          val hr = gen.heartRate(p, et, i)
          val kind = gen.kindOf(i)
          model.add(kind, p, et, hr)
          w.write(gen.render(kind, p, et, hr, i)); w.write('\n'); n += 1
        }
      finally w.close()
      // the file source orders new files by modification time
      new File(dir, f"part-$f%03d.txt").setLastModified(1700000000000L + f * 1000L)
    }
    (model, n)
  }

  def drainQuery(spark: SparkSession, in: File, out: File, ckpt: File): Double = {
    Disk.rm(out); Disk.rm(ckpt)
    val raw = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", DrainFilesPerTrigger).text(in.getPath)
    val t0 = System.nanoTime()
    val q = HealthMonitor.alertJson(HealthMonitor.alerts(raw)).writeStream
      .queryName("drain")
      .format("text")
      .option("path", out.getPath)
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000)) { q.stop(); sys.error("drain did not finish in 120 s") }
    (System.nanoTime() - t0) / 1e9
  }

  /** Emitted alerts keyed by (patient, window start), counting repeats. */
  def readAlerts(lines: Iterator[String]): (Map[(String, Long), Alert], Seq[String]) = {
    val out = mutable.HashMap[(String, Long), Alert]()
    val dup = mutable.ArrayBuffer[String]()
    lines.foreach { l =>
      val a = AlertCheck.parse(l)
      if (out.contains((a.patient, a.start))) dup += s"window emitted twice: $l"
      out((a.patient, a.start)) = a
    }
    (out.toMap, dup.toSeq)
  }

  /** Setup unit: one small drain pass (stream and rollup), which also
    * compiles the drain's query shapes for the timed passes.
    */
  def warmup(ctx: Ctx): Unit = {
    val gen = new HealthGen(ctx.seed + 1, 50, 1735689600000L)
    val dir = new File(ctx.work, "warm-in")
    val (model, _) = writeBacklog(gen, 200, DrainFiles, dir)
    val (_, drainProblems, _) = drainPass(ctx, dir, "setup", model)
    ctx.report.check("setup.drain", drainProblems)
  }

  /** The live topology: alert JSON of each micro-batch into
    * `live-out/batch=<id>`; `stamp(id, ms)` runs as each batch's write
    * ends, with the write's duration.
    */
  def liveQuery(ctx: Ctx, input: MemoryStream[String], stamp: (Long, Double) => Unit): StreamingQuery = {
    val out = new File(ctx.work, "live-out")
    val ckpt = new File(ctx.work, "live-ckpt")
    Disk.rm(out); Disk.rm(ckpt)
    val sink = (batch: DataFrame, id: Long) => {
      val s = System.nanoTime()
      batch.write.mode("overwrite").text(new File(out, s"batch=$id").getPath)
      stamp(id, (System.nanoTime() - s) / 1e6)
    }
    HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value"))).writeStream
      .queryName("live")
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
  }

  /** One drain pass: the stream to alert files, then the reference
    * batch analysis of those files. Returns the wall time of both and
    * each one's problems.
    */
  def drainPass(ctx: Ctx, in: File, tag: String, model: HealthModel): (Double, Seq[String], Seq[String]) = {
    val spark = ctx.spark
    val out = new File(ctx.work, s"drain-out-$tag")
    val rollup = new File(ctx.work, s"rollup-$tag").getPath
    val t0 = System.nanoTime()
    ctx.trace.span(spark, "streaming.drain") {
      drainQuery(spark, in, out, new File(ctx.work, s"drain-ckpt-$tag"))
    }
    ctx.trace.span(spark, "sources.rollup") {
      AlertStore.writeStats(AlertStore.analyze(AlertStore.readJson(spark, out.getPath)), rollup)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val closedBy = model.maxEt - HealthGen.WatermarkMs
    val (got, dup) = readAlerts(Disk.lines(out).map(_._2))
    val drainProblems = dup ++ AlertCheck.compare(model.alerts(closedBy), got)
    val rollupProblems = AlertCheck.compareRollup(model.rollup(closedBy), readRollup(spark, rollup))
    Disk.rm(out); Disk.rm(new File(rollup))
    (wall, drainProblems, rollupProblems)
  }

  /** The rollup as written: (user id as text, alert_type, n_alerts). */
  def readRollup(spark: SparkSession, path: String): Seq[(String, String, Long)] =
    spark.read.parquet(path).collect().toSeq.map { r =>
      val id = r.get(r.fieldIndex("user_id"))
      (if (id == null) "NULL" else HealthGen.patientId(id.toString.toInt),
        r.getAs[String]("alert_type"), r.getAs[Long]("n_alerts"))
    }

  def run(ctx: Ctx): Unit = {
    val started = System.nanoTime()
    val t0 = 1735689600000L + (ctx.seed % 1000) * 3600000L + 13000L
    val gen = new HealthGen(ctx.seed, Patients, t0)

    // ---- drain: DrainPasses whole passes of two operations each (a
    // fixed count, so the failing rollup is always the same share)
    val in = new File(ctx.work, "drain-in")
    val (model, n) = writeBacklog(gen, DrainTicks, DrainFiles, in)
    val walls = (0 until DrainPasses).map { i =>
      val (wall, drainProblems, rollupProblems) =
        ctx.trace.span(ctx.spark, "hr-stream.drain_pass") { drainPass(ctx, in, s"$i", model) }
      ctx.report.op("drain", drainProblems)
      ctx.report.op("rollup", rollupProblems)
      wall
    }
    ctx.report.e2e("throughput_per_s") = (n / Stats.median(walls), "1/s")
    ctx.report.notes("drain.walls") = walls
    ctx.report.notes("drain.payloads") = n
    if (ctx.trace.enabled) drainLayers(ctx, model)

    ctx.report.notes("drain.done_s") = (System.nanoTime() - started) / 1e9

    // ---- live
    live(ctx, new HealthGen(ctx.seed ^ 0x5EED, Patients, model.maxEt + 3600000L))
  }

  private def drainLayers(ctx: Ctx, model: HealthModel): Unit = {
    val spark = ctx.spark
    val L = ctx.report.layer
    val ps = ctx.trace.streams.of("drain").filter(_.numInputRows > 0)
    L("streaming.drain.batch_ms") = (Stats.median(ps.map(_.batchDuration.toDouble)), "ms")
    L("streaming.drain.addBatch_ms") = (Stats.median(ps.map(p => dur(p, "addBatch"))), "ms")
    val st = ps.flatMap(_.stateOperators.headOption)
    L("streaming.state_rows") = (st.map(_.numRowsTotal).max.toDouble, "count")
    L("streaming.state_bytes") = (st.map(_.memoryUsedBytes).max.toDouble, "bytes")

    // the parse kernel alone over the backlog
    val raw = spark.read.text(new File(ctx.work, "drain-in").getPath)
    for (_ <- 0 until 3) ctx.trace.span(spark, "functions.parse") {
      raw.select(HealthFunctions.parseEventFast(col("value")).as("e"))
        .filter(col("e").isNotNull).write.format("noop").mode("overwrite").save()
    }
    L("functions.parse_s") = (Stats.median(ctx.trace.seconds("functions.parse")), "s")
    val dropped = raw.filter(HealthFunctions.parseEventFast(col("value")).isNull).count()
    L("functions.invalid_dropped") = (dropped.toDouble, "count")
    ctx.report.check("functions.invalid_dropped",
      if (dropped == model.invalid.sum) Nil
      else Seq(s"parser dropped $dropped payloads, ${model.invalid.sum} planted"))
    val refused = raw.filter(FastEventParse.fastParseEvent(col("value")).isNull).count()
    L("functions.fallback_payloads") = (refused.toDouble, "count")
    val planted = model.fallback + model.invalid.sum
    ctx.report.check("functions.fallback_payloads",
      if (refused == planted) Nil else Seq(s"fast parser refused $refused, $planted planted"))

    L("sources.rollup_s") = (Stats.median(ctx.trace.seconds("sources.rollup")), "s")
    // Spark counters per call of each step
    for ((step, span) <- Seq("parse" -> "functions.parse", "drain" -> "streaming.drain",
        "rollup" -> "sources.rollup")) {
      val c = ctx.trace.jobs.of(span)
      val k = ctx.trace.seconds(span).size.max(1).toDouble
      L(s"spark.$step.jobs") = (c.jobs / k, "count")
      L(s"spark.$step.tasks") = (c.tasks / k, "count")
      L(s"spark.$step.task_cpu_s") = (c.taskCpuNs / 1e9 / k, "s")
      L(s"spark.$step.shuffle_write_bytes") = (c.shuffleWriteBytes / k, "bytes")
      L(s"spark.$step.spill_bytes") = (c.spillBytes / k, "bytes")
      L(s"spark.$step.max_task_ms") = (c.maxTaskMs.toDouble, "ms")
    }
  }

  private def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def live(ctx: Ctx, gen: HealthGen): Unit = {
    val spark = ctx.spark
    val ticks = WarmTicks + ((ctx.seconds * 1000 + WarmMs) / TickMs).toInt
    // inputs made before the clock starts: payloads per tick, the
    // late payloads a tick may carry, and each tick's max event time
    val model = new HealthModel()
    val payloads = new Array[Array[String]](ticks)
    val lates = new Array[Array[String]](ticks)
    val tickMaxEt = new Array[Long](ticks)
    for (k <- 0 until ticks) {
      val b = new Array[String](gen.patients)
      var mx = Long.MinValue
      tickEvents(gen, k, LiveTickEt, jitter = true) { (i, p, et) =>
        val hr = gen.heartRate(p, et, i)
        val kind = gen.kindOf(i)
        model.add(kind, p, et, hr)
        if (HealthGen.isValid(kind)) mx = math.max(mx, et)
        b(p) = gen.render(kind, p, et, hr, i)
      }
      payloads(k) = b; tickMaxEt(k) = mx
      // the engine counts late rows after partial aggregation, so no
      // two late readings of a batch share a (patient, window): the
      // patient cycles through all of them, each reading in its own minute
      lates(k) = Array.tabulate(LatePerTick) { j =>
        val p = (k * LatePerTick + j) % gen.patients
        val et = gen.t0 + k * LiveTickEt - LateMs - j * HealthGen.WindowMs
        val i = -(k.toLong * LatePerTick + j) - 1
        gen.render(HealthGen.Fast, p, et, gen.heartRate(p, et, i), i)
      }
    }

    val input = {
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      MemoryStream[String]
    }
    val emitted = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    // far-late events only once earlier batches have set a watermark
    @volatile var watermarked = false
    val q = ctx.trace.span(spark, "streaming.live") {
      liveQuery(ctx, input, { (id, ms) =>
        emitted.put(id, System.currentTimeMillis())
        sinkMs.add(ms)
        if (id >= 2) watermarked = true
      })
    }

    // warm the live query with a few synchronous batches, then run
    // the open-loop generator: tick k is due at start + (k - W)·TickMs
    val created = new Array[Long](ticks)
    val lateMs = mutable.ArrayBuffer[Double]()
    val lateTicks = mutable.ArrayBuffer[Int]()
    var offered = 0L
    for (k <- 0 until WarmTicks) {
      created(k) = System.currentTimeMillis()
      input.addData(payloads(k).toSeq)
      offered += payloads(k).length
      q.processAllAvailable()
    }
    val start = System.nanoTime()
    for (k <- WarmTicks until ticks) {
      val due = start + (k - WarmTicks) * TickMs * 1000000L
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val withLate = watermarked
      val data = if (withLate) payloads(k) ++ lates(k) else payloads(k)
      created(k) = System.currentTimeMillis()
      input.addData(data.toSeq)
      lateMs += (System.nanoTime() - due) / 1e6
      offered += data.length
      if (withLate) lateTicks += k
    }
    val processed = ctx.trace.streams.of("live").map(_.numInputRows).sum
    q.processAllAvailable()
    q.stop()
    Bridge.waitListenerBusEmpty(spark)
    lateTicks.foreach(_ => (0 until LatePerTick).foreach(_ => model.addLate()))

    // which batch emitted each alert
    val byBatch = Disk.lines(new File(ctx.work, "live-out")).map { case (f, l) =>
      (f.getParentFile.getName.stripPrefix("batch=").toLong, l)
    }.toSeq
    val (got, dup) = readAlerts(byBatch.iterator.map(_._2))
    val closedBy = model.maxEt - HealthGen.WatermarkMs
    ctx.report.op("live", dup ++ AlertCheck.compare(model.alerts(closedBy), got))

    // per window close: emission minus creation of the tick whose
    // events first reached window_end + watermark
    val firstBatch = mutable.HashMap[Long, Long]()
    byBatch.foreach { case (b, l) =>
      val end = AlertCheck.parse(l).end
      firstBatch(end) = math.min(b, firstBatch.getOrElse(end, Long.MaxValue))
    }
    val warmTicks = WarmTicks + (WarmMs / TickMs).toInt
    val delays = firstBatch.toSeq.sortBy(_._1).flatMap { case (end, b) =>
      val k = tickMaxEt.indexWhere(_ >= end + HealthGen.WatermarkMs)
      if (k < warmTicks) None
      else Some((emitted.get(b).longValue - created(k)) / 1000.0)
    }
    if (delays.size < 10 || delays.exists(_ <= 0))
      ctx.report.check("live.delay", Seq(s"bad delay samples: ${delays.take(5)} (${delays.size})"))
    else {
      ctx.report.e2e("latency_p50_s") = (Stats.median(delays), "s")
      ctx.report.notes("live.delays") = delays.map(d => math.round(d * 100) / 100.0)
    }

    val L = ctx.report.layer
    if (delays.nonEmpty) {
      val (tq, tv) = Stats.tail(delays)
      L("streaming.live.alert_delay_tail_s") = (tv, "s")
      ctx.report.notes("live.alert_delay_tail_quantile") = tq
    }
    L("gen.late_ms") = (Stats.quantile(lateMs.toSeq, 0.99), "ms")
    if (ctx.trace.enabled) {
      val ps = ctx.trace.streams.of("live").filter(_.numInputRows > 0)
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        Stats.median(ps.map(f))
      L("streaming.live.batch_ms") = (med(_.batchDuration.toDouble), "ms")
      for (k <- Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"))
        L(s"streaming.live.${k}_ms") = (med(dur(_, k)), "ms")
      L("streaming.live.state_commit_ms") =
        (med(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)), "ms")
      L("streaming.live.sink_write_ms") =
        (Stats.median(sinkMs.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue)), "ms")
      L("streaming.live.batches") = (ps.size.toDouble, "count")
      L("streaming.live.rows_per_batch") = (med(_.numInputRows.toDouble), "count")
      val dropped = ctx.trace.streams.of("live")
        .flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
      L("streaming.dropped_late") = (dropped.toDouble, "count")
      ctx.report.check("streaming.dropped_late",
        if (dropped == model.lateDropped) Nil
        else Seq(s"engine dropped $dropped late rows, ${model.lateDropped} planted"))
      L("gen.backlog_end") = ((offered - processed).toDouble, "count")
    }
  }
}
