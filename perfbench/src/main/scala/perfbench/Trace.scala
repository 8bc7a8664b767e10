package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable

/** Spark counters of one scope: the jobs started while the scope's
  * name was the thread's `perfbench.scope` local property.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
}

/** Job, stage and task records from a `SparkListener`, summed per
  * scope. Streaming jobs inherit the scope of the thread that
  * started the query (local properties are inheritable).
  */
final class ScopeListener extends SparkListener {
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val scopes = new java.util.concurrent.ConcurrentHashMap[String, Counters]()

  def of(scope: String): Counters = scopes.computeIfAbsent(scope, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.ScopeKey)))
      .getOrElse("other")
    e.stageIds.foreach(stageScope.put(_, scope))
    val c = of(scope)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(Option(stageScope.get(e.stageId)).getOrElse("other"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Progress records of every streaming query, by query name. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = progress.computeIfAbsent(String.valueOf(e.progress.name), _ => mutable.ArrayBuffer())
    buf.synchronized { buf += e.progress }
  }
  def of(name: String): Seq[StreamingQueryProgress] =
    Option(progress.get(name)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each module, plus the
  * listeners. Disabled, every method is a plain call: the end-to-end
  * runs install no listener and record no span.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue: List[Int] = Nil }
  private var nextId = 0
  val jobs = new ScopeListener
  val streams = new ProgressListener

  private var on = false

  /** Starts tracing: listeners on, spans recorded from here. */
  def install(spark: SparkSession): Unit = if (enabled) {
    on = true
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  /** Run `body` as span `name` (a child of the enclosing span), with
    * its Spark jobs counted under scope `name`.
    */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    if (!on) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    val sc = spark.sparkContext
    val prevScope = sc.getLocalProperty(Trace.ScopeKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(Trace.ScopeKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Trace.ScopeKey, prevScope)
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, parent, t0, t1) }
    }
  }

  def seconds(name: String): Seq[Double] =
    synchronized(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toList)

  /** Spans with self time (duration minus the union of its children,
    * which never overlap here: spans nest on one thread).
    */
  def toJson: String = synchronized {
    val child = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(s => s.endNs - s.startNs).sum }
    spans.sortBy(_.startNs).map { s =>
      val d = s.endNs - s.startNs
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> (d - child.getOrElse(s.id, 0L)) / 1e9))
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Trace {
  val ScopeKey = "perfbench.scope"
}
