package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded heart-rate payloads and the reference model of what the
  * health pipeline must emit for them, in plain Scala: no Spark and
  * nothing from the library's own generator.
  *
  * Every event is a (patient, event time, heart rate). Before it is
  * rendered, a fixed share of events is turned into one of the four
  * kinds of payload the reference parser drops (flink_job.py:19-32,
  * tests/test_flink_logic.py:6-23), and a fixed share into valid
  * payloads outside the fast parser's profile. Shares are exact: the
  * kind of the i-th payload is a permutation of `i % 100`.
  */
object HealthGen {
  val WindowMs = 60000L
  val WatermarkMs = 5000L

  // payload kinds; the first four are dropped by the reference
  val BadJson = 0
  val MissingField = 1
  val BadTimestamp = 2
  val NonPositiveRate = 3
  val Escaped = 4    // valid, outside the fast profile: escaped string
  val NoOffset = 5   // valid, outside the fast profile: no UTC offset
  val Fast = 6       // valid, inside the fast profile

  /** Per hundred payloads: one of each invalid kind, three of each
    * fallback kind, the rest in the fast profile.
    */
  private val kindSlots: Array[Int] =
    (Seq(BadJson, MissingField, BadTimestamp, NonPositiveRate) ++
      Seq.fill(3)(Escaped) ++ Seq.fill(3)(NoOffset) ++ Seq.fill(90)(Fast)).toArray

  def isValid(kind: Int): Boolean = kind >= Escaped

  def classify(avg: Double): String =
    if (avg > 100.0) "tachycardia" else if (avg < 50.0) "bradycardia" else "normal"

  def patientId(p: Int): String = f"p$p%04d"

  private val isoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
  private val isoLocal = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")
  private val plus0530 = ZoneOffset.ofHoursMinutes(5, 30)

  /** splitmix64: a stateless hash, so any event's draw is a pure
    * function of (seed, indices).
    */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def draw(seed: Long, a: Long, b: Long, salt: Long, mod: Int): Int =
    java.lang.Math.floorMod(mix(mix(mix(seed ^ salt) + a) + b), mod.toLong).toInt
}

/** One generated payload stream for a given seed.
  *
  * @param patients number of patients
  * @param t0       event time of the first tick (epoch ms)
  */
final class HealthGen(val seed: Long, val patients: Int, val t0: Long) {
  import HealthGen._

  private val baseline: Array[Int] =
    Array.tabulate(patients)(p => 62 + draw(seed, p, 0, 11, 20))
  private val kindOffset = draw(seed, 0, 0, 12, 100)
  private val kindStride = Seq(37, 41, 43, 47, 53)(draw(seed, 0, 0, 13, 5))

  /** Heart rate of patient p at event time et: baseline, noise in
    * [-10, 15], and per (patient, minute) episodes: 4% tachycardia
    * (+45), 4% bradycardia (-35). Always positive.
    */
  def heartRate(p: Int, et: Long, i: Long): Long = {
    val minute = Math.floorDiv(et, WindowMs)
    val ep = draw(seed, p, minute, 14, 100)
    val shift = if (ep < 4) 45 else if (ep < 8) -35 else 0
    (baseline(p) + draw(seed, i, 0, 15, 26) - 10 + shift).toLong
  }

  def kindOf(i: Long): Int =
    kindSlots(java.lang.Math.floorMod(i * kindStride + kindOffset, 100L).toInt)

  /** The payload text of event i; `kind` picks valid or broken. */
  def render(kind: Int, p: Int, et: Long, hr: Long, i: Long): String = {
    val pid = patientId(p)
    val inst = Instant.ofEpochMilli(et)
    def ts = (draw(seed, i, 0, 16, 3) match {
      case 0 => isoZ.format(inst.atOffset(ZoneOffset.UTC))
      case 1 => isoZ.format(inst.atOffset(ZoneOffset.UTC)).replace("Z", "+00:00")
      case _ => isoZ.format(inst.atOffset(plus0530))
    })
    kind match {
      case Fast =>
        s"""{"patient_id": "$pid", "timestamp": "$ts", "heart_rate_bpm": $hr}"""
      case Escaped =>
        // the JSON escape of '0': decodes to the same id, but the
        // fast parser refuses escapes and the general parser takes over
        val esc = "p" + "\\" + "u0030" + pid.substring(2)
        s"""{"patient_id": "$esc", "timestamp": "$ts", "heart_rate_bpm": $hr}"""
      case NoOffset =>
        val local = isoLocal.format(inst.atOffset(ZoneOffset.UTC))
        s"""{"heart_rate_bpm": $hr, "patient_id": "$pid", "timestamp": "$local"}"""
      case BadJson =>
        s"""{"patient_id": "$pid", "timestamp": "$ts", "heart_rate_bpm": """
      case MissingField =>
        draw(seed, i, 0, 17, 3) match {
          case 0 => s"""{"timestamp": "$ts", "heart_rate_bpm": $hr}"""
          case 1 => s"""{"patient_id": "$pid", "heart_rate_bpm": $hr}"""
          case _ => s"""{"patient_id": "$pid", "timestamp": "$ts"}"""
        }
      case BadTimestamp =>
        s"""{"patient_id": "$pid", "timestamp": "yesterday at noon", "heart_rate_bpm": $hr}"""
      case NonPositiveRate =>
        val bad = if (draw(seed, i, 0, 18, 2) == 0) 0 else -hr
        s"""{"patient_id": "$pid", "timestamp": "$ts", "heart_rate_bpm": $bad}"""
    }
  }
}

/** Per-window aggregate of the model. */
final case class WindowAgg(var sum: Long, var n: Long, var min: Long, var max: Long) {
  def add(hr: Long): Unit = { sum += hr; n += 1; if (hr < min) min = hr; if (hr > max) max = hr }
  def avg: Double = sum.toDouble / n
}

/** The reference model: feed it every generated event, then ask for
  * the alerts a correct pipeline emits (1-minute tumbling windows).
  */
final class HealthModel {
  import HealthGen._
  val windows = new java.util.HashMap[(Int, Long), WindowAgg]()
  val invalid: Array[Long] = new Array[Long](4)
  var fallback = 0L
  var lateDropped = 0L
  var maxEt = Long.MinValue

  def add(kind: Int, p: Int, et: Long, hr: Long): Unit = {
    if (!isValid(kind)) { invalid(kind) += 1; return }
    if (kind != Fast) fallback += 1
    if (et > maxEt) maxEt = et
    val start = Math.floorDiv(et, WindowMs) * WindowMs
    val a = windows.get((p, start))
    if (a == null) windows.put((p, start), WindowAgg(hr, 1, hr, hr)) else a.add(hr)
  }

  /** A valid event the pipeline must drop: behind the watermark. */
  def addLate(): Unit = lateDropped += 1

  /** Alerts for every window that ends at or before `closedBy`. */
  def alerts(closedBy: Long = Long.MaxValue): Map[(String, Long), Alert] = {
    val b = Map.newBuilder[(String, Long), Alert]
    windows.forEach { (k, a) =>
      val end = k._2 + WindowMs
      if (end <= closedBy)
        b += (patientId(k._1), k._2) ->
          Alert(patientId(k._1), k._2, end, a.avg, a.min, a.max, classify(a.avg))
    }
    b.result()
  }

  /** Alert counts per (patient, alert_type): spark_batch_analysis.py. */
  def rollup(closedBy: Long = Long.MaxValue): Map[(String, String), Long] =
    alerts(closedBy).values.groupBy(a => (a.patient, a.alertType)).map {
      case (k, v) => k -> v.size.toLong
    }
}

final case class Alert(patient: String, start: Long, end: Long,
    avg: Double, min: Long, max: Long, alertType: String)
