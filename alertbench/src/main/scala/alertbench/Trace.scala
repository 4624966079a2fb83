package alertbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.alertbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary; `parent` is the span that
  * caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Counts gathered inside one scope (a workload's timed window, one
  * corpus query, one probe step).
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var inputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  /** One entry per streaming trigger: batch id, durationMs, input rows. */
  val progress: mutable.ArrayBuffer[(Long, Map[String, Long], Long)] = mutable.ArrayBuffer.empty

  def taskSkew: Double = {
    if (taskMs.isEmpty) return 1.0
    val s = taskMs.sorted
    s.last.toDouble / math.max(1L, s(s.length / 2))
  }
  def taskTotalMs: Long = taskMs.sum
}

/** The benchmark's tracer: a SparkListener (jobs, stages, task metrics),
  * a QueryExecutionListener (planning phases) and a
  * StreamingQueryListener (per-trigger durations), all attributing to
  * the current scope, plus spans recorded around calls into each layer.
  * Spans stay in memory and are written once, by [[writeSpans]].
  *
  * Listener events arrive on Spark's listener-bus threads: callers
  * [[drain]] before switching scope or reading counters.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var scope: String = ""
  private val byScope = mutable.LinkedHashMap.empty[String, Counters]
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  private def current: Counters = byScope.synchronized {
    byScope.getOrElseUpdate(scope, new Counters)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current; c.synchronized { c.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = current; c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = current
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.taskMs += e.taskInfo.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val c = current
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val c = current
      c.synchronized { c.progress += ((p.batchId, d, p.numInputRows)) }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Runs `body` with events attributed to `name`; returns its counters. */
  def scoped[T](name: String)(body: => T): (T, Counters) = {
    drain()
    val prev = scope
    scope = name
    try {
      val out = body
      drain()
      (out, counters(name))
    } finally scope = prev
  }

  /** Attributes events from now on to `name` (after queued ones). */
  def enter(name: String): Unit = { drain(); scope = name }

  def counters(name: String): Counters = byScope.synchronized {
    byScope.getOrElseUpdate(name, new Counters)
  }

  def newSpanId(): Long = ids.incrementAndGet()

  /** Records a finished span. */
  def record(s: Span): Unit = spans.add(s)

  /** Runs `body` inside a span under `parent`. */
  def span[T](name: String, parent: Long = 0L)(body: => T): T = {
    val id = newSpanId()
    val t0 = System.nanoTime()
    try body
    finally record(Span(id, parent, name, t0, System.nanoTime()))
  }

  def spanCount: Int = spans.size

  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Minimal JSON writer for the result line and the report files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
