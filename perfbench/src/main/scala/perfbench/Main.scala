package perfbench

import java.io.File

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What a workload gets: its session, seed, time budget, scratch
  * directory, trace and report.
  */
final class Ctx(val seed: Long, val seconds: Double, val work: File,
    val trace: Trace, val report: Report) {
  var spark: SparkSession = _
}

/** One benchmark run inside one JVM:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <work dir> <launch epoch ms> <result file>
  *
  * Sets up `SetupRounds` times (a fresh session plus the workload's
  * small warm-up unit; the first round counts from the JVM's launch),
  * runs the workload, and writes the result record that run.py turns
  * into the benchmark's last line.
  */
object Main {
  val Cores = 3
  val SetupRounds = 3

  private val workloads: Map[String, (Ctx => Unit, Ctx => Unit)] = Map(
    "hr-stream" -> ((HrStream.warmup _), (HrStream.run _)),
    "engine-loops" -> ((EngineLoops.warmup _), (EngineLoops.run _)))

  def session(work: File): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "rdd-ckpt").getPath)
    s
  }

  /** Peak resident set of this JVM, from the kernel's own count. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, launchS, resultS) = args
    val (warmup, run) = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = new File(workS)
    work.mkdirs()
    val ctx = new Ctx(seedS.toLong, secondsS.toDouble, work, new Trace(traceS == "1"), new Report)

    val setups = (0 until SetupRounds).map { r =>
      val t0 = if (r == 0) launchS.toLong else System.currentTimeMillis()
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      ctx.spark = session(work)
      ctx.report.notes(s"setup.session_$r") = (System.currentTimeMillis() - t0) / 1000.0
      warmup(ctx)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    ctx.trace.install(ctx.spark)
    ctx.report.e2e("setup_s") = (Stats.median(setups), "s")
    ctx.report.notes("setup.rounds") = setups

    val t0 = System.nanoTime()
    val gc0 = gcSeconds()
    val error = try { run(ctx); None } catch {
      case e: Throwable =>
        e.printStackTrace()
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    ctx.report.notes("run_s") = (System.nanoTime() - t0) / 1e9
    ctx.report.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    val r = ctx.report
    r.layer("jvm.gc_s") = (gcSeconds() - gc0, "s")
    val metrics = (if (ctx.trace.enabled) Layers.complete(r.layer) else r.e2e.toSeq).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    Disk.write(resultS, Json.obj(Seq(
      "correct" -> (error.isEmpty && r.mismatches.isEmpty),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> Json.Raw(Json.obj(metrics)),
      "error" -> error.orNull,
      "mismatches" -> r.mismatches.toSeq,
      "notes" -> Json.Raw(Json.obj(r.notes.toSeq)))))
    if (ctx.trace.enabled)
      Disk.write(new File(work, "trace.json").getPath, ctx.trace.toJson)
    ctx.spark.stop()
  }
}
