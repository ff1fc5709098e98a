package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `counters` holds the Spark work the
  * span itself caused (jobs, stages, tasks, bytes, times), excluding
  * its children; `Trace.inclusive` adds the children back.
  */
final case class Span(
    id: Int,
    name: String,
    tag: String,
    parent: Int,
    request: String,
    start: Long,
    end: Long,
    counters: Map[String, Long],
    notes: Map[String, Double] = Map.empty)

/** Spark-side counters keyed by span id. The id travels on a local
  * property (`Trace.SpanProperty`) that the tracer sets around every
  * call, so each job's properties name the innermost open span.
  */
final class SpanCounters {
  private val bySpan = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def add(span: Int, key: String, v: Long): Unit =
    bySpan.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Long]())
      .merge(key, v, (a: Long, b: Long) => a + b)

  def of(span: Int): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Option(bySpan.get(span)).map(_.asScala.toMap).getOrElse(Map.empty)
  }

  /** Called for every job start: the job, its stages and its SQL
    * execution belong to the span named in its properties.
    */
  def jobStarted(props: java.util.Properties, stageIds: Seq[Int]): Unit =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).foreach { s =>
      val span = s.toInt
      add(span, "jobs", 1)
      stageIds.foreach(stageSpan.put(_, span))
    }

  def stageCompleted(info: StageInfo): Unit =
    Option(stageSpan.get(info.stageId)).foreach { span =>
      val m = info.taskMetrics
      add(span, "stages", 1)
      add(span, "tasks", info.numTasks.toLong)
      if (m != null) {
        add(span, "shuffle_bytes",
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        add(span, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(span, "executor_cpu_ms", m.executorCpuTime / 1000000L)
        add(span, "executor_run_ms", m.executorRunTime)
        add(span, "gc_ms", m.jvmGCTime)
      }
    }

}

/** Records spans in memory. Single-client by design: the traced run
  * replays one request at a time, so one stack of open spans suffices.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new SpanCounters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Long)]
  private val notes = mutable.Map.empty[Int, Map[String, Double]]
  private var nextId = 1
  private var request = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      counters.jobStarted(j.properties, j.stageIds)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      counters.stageCompleted(s.stageInfo)
  }
  // Query executions carry no local properties, so each one is matched
  // to a span by time: the innermost span open when its planning began.
  // The replay is single-threaded, so that span issued it.
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      finished(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      finished(qe)
    private def finished(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        executions.add((phases.map(_.startTimeMs).min, phases.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }
  // wall-clock ms = (nanoTime + offset) / 1e6, to compare with phase times
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  /** Attaches a value (rows, bytes) to the innermost open span. */
  def note(key: String, v: Double): Unit = open.headOption.foreach { case (id, _, _, _) =>
    notes(id) = notes.getOrElse(id, Map.empty[String, Double]).updated(key, v)
  }

  /** Starts a new request: later spans carry its id. */
  def beginRequest(id: String): Unit = request = id

  def span[T](name: String, tag: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Trace.SpanProperty)
    open.push((id, name, tag, System.nanoTime()))
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, _, start) = open.pop()
      sc.setLocalProperty(Trace.SpanProperty, outer)
      val parent = open.headOption.map(_._1).getOrElse(0)
      spans += Span(id, name, tag, parent, request, start, end, Map.empty,
        notes.remove(id).getOrElse(Map.empty))
    }
  }

  /** Every span closed so far, with its Spark counters attached. Waits
    * for the listener bus to drain first, so no job is missed.
    */
  def finish(): Seq[Span] = {
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)
    val all = spans.toSeq
    executions.forEach { case (startMs, planMs) =>
      val at = startMs * 1000000L - nanoOffset
      all.filter(s => s.start <= at + 1000000L && at <= s.end).maxByOption(_.start).foreach { s =>
        counters.add(s.id, "sql_executions", 1)
        counters.add(s.id, "plan_ms", planMs)
      }
    }
    all.map(s => s.copy(counters = counters.of(s.id))).sortBy(_.start)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Trace {
  /** Local property naming the innermost open span of the thread. */
  val SpanProperty = "perfbench.span"

  val CountKeys: Seq[String] = Seq("jobs", "stages", "tasks")

  def durationMs(s: Span): Double = (s.end - s.start) / 1e6

  /** Duration minus the union of the intervals its direct children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = -1L
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1e6
  }

  /** Counters of the span plus all its descendants. */
  def inclusive(s: Span, all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    def go(x: Span): Map[String, Long] =
      kids.getOrElse(x.id, Seq.empty).map(go).foldLeft(x.counters) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
      }
    go(s)
  }

  /** Each span as "name[tag] jobs stages tasks", children included. */
  def countLines(spans: Seq[Span]): Seq[String] = spans.map { s =>
    val c = inclusive(s, spans)
    s"${s.name}[${s.tag}] " + CountKeys.map(c.getOrElse(_, 0L)).mkString(" ")
  }

  /** Where two runs' count lines differ, matched by position. */
  def countDrift(a: Seq[String], b: Seq[String]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (a.size != b.size) out += s"span count ${a.size} vs ${b.size}"
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) => if (x != y) out += s"#$i $x vs $y" }
    out.toSeq
  }

  /** Spans as JSON lines (name, start, end, parent, request, counters). */
  def toJsonLines(spans: Seq[Span], t0: Long): Seq[String] = spans.map { s =>
    Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "tag" -> s.tag, "parent" -> s.parent,
      "request" -> s.request,
      "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
      "self_ms" -> selfMs(s, spans),
      "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1)),
      "notes" -> Json.obj(s.notes.toSeq.sortBy(_._1)))).json
  }
}
