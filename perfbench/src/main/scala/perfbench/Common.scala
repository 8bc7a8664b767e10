package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Minimal JSON writing: the result and the trace are flat records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case raw: Json.Raw => raw.text
    case null => "null"
    case other => str(other.toString)
  }
  final case class Raw(text: String)
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p90, p75, p50 with at least ten samples above it
    * (the median when there are fewer than twenty samples).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = Seq(0.9, 0.75, 0.5).find(q => xs.size * (1 - q) >= 10).getOrElse(0.5)
    (q, quantile(xs, q))
  }
}

/** What one run reports, gathered as the workload goes. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, Any]()
  val mismatches = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** Count one operation; `problems` empty means it passed its check. */
  def op(name: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) failed += 1
    if (problems.nonEmpty) notes.getOrElseUpdate(s"failed.$name", problems.take(3))
  }

  /** A check whose failure makes the whole run incorrect. */
  def check(name: String, problems: Seq[String]): Unit =
    mismatches ++= problems.take(5).map(p => s"$name: $p")
}

object Disk {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }
  /** Every line of every part file under `dir`, recursively. */
  def lines(dir: File): Iterator[(File, String)] = {
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    files.sortBy(_.getName).iterator.flatMap { f =>
      if (f.isDirectory) lines(f)
      else if (f.getName.startsWith("part-")) {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList.iterator.map(f -> _) finally src.close()
      } else Iterator.empty
    }
  }
}
