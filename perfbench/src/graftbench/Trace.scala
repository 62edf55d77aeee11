package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span. Times are epoch nanoseconds, so benchmark spans (measured
  * with nanoTime) and Spark job/stage spans (epoch milliseconds from
  * the listener events) share one clock. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, var end: Long = 0L,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()) {
  def ms: Double = (end - start) / 1e6
}

/** Span recorder for the traced run.
  *
  *  - the benchmark opens a root span per op and a child span per public
  *    graft call it makes; around each call it sets the Spark job group
  *    to the call's span id;
  *  - a SparkListener turns every job into a span under the call whose
  *    group it carries, and every stage into a span under its job, with
  *    the stage's task metrics as attributes;
  *  - a QueryExecutionListener sums the Catalyst phase times
  *    (`QueryExecution.tracker`) of every executed query.
  *
  * Spans stay in memory and are written once, at the end of the run.
  * Job attribution goes through the job group only: stage call sites are
  * not used, because jobs submitted from pool threads carry a
  * `CompletableFuture` call site. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epochBaseNs + System.nanoTime()

  val spans = mutable.ArrayBuffer[Span]()
  private val events = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageDelay = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Double]()
  private val phases = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def phaseTotals: Map[String, Double] = phases.asScala.toMap
  /** Events are taken in only while active; the loop drains the bus
    * (`collect`) before it flips this, so each op's events land on the
    * right side. */
  @volatile var active = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.flatMap(_.toLongOption).getOrElse(-1L)
      val s = Span(ids.incrementAndGet(), parent, s"job ${e.jobId}", "job", e.time * 1000000L)
      e.stageIds.foreach(st => stageJob.put(st, s.id))
      jobSpan.put(e.jobId, s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.end = e.time * 1000000L
        s.attrs("failed") = if (e.jobResult == JobSucceeded) 0.0 else 1.0
        events.add(s)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active && e.taskMetrics != null && e.taskInfo != null) {
        val m = e.taskMetrics
        val d = math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        stageDelay.merge((e.stageId, e.stageAttemptId), d.toDouble, (a, b) => a + b)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val si = e.stageInfo
      val parent = Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(-1L)
      val s = Span(ids.incrementAndGet(), parent, si.name, "stage",
        si.submissionTime.getOrElse(0L) * 1000000L, si.completionTime.getOrElse(0L) * 1000000L)
      val m = si.taskMetrics
      s.attrs("tasks") = si.numTasks
      if (m != null) {
        s.attrs("executor_run_ms") = m.executorRunTime
        s.attrs("executor_cpu_ms") = m.executorCpuTime / 1e6
        s.attrs("gc_ms") = m.jvmGCTime
        s.attrs("shuffle_read_bytes") = m.shuffleReadMetrics.totalBytesRead
        s.attrs("shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten
        s.attrs("spill_bytes") = m.memoryBytesSpilled + m.diskBytesSpilled
        s.attrs("output_bytes") = m.outputMetrics.bytesWritten
      }
      s.attrs("scheduler_delay_ms") =
        Option(stageDelay.remove((si.stageId, si.attemptNumber()))).map(_.doubleValue).getOrElse(0.0)
      s.attrs("loader_call_site") = if (si.name.contains("Loaders.scala")) 1.0 else 0.0
      events.add(s)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      if (active) qe.tracker.phases.foreach { case (phase, summary) =>
        phases.merge(phase, summary.durationMs.toDouble, (a, b) => a + b)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def open(name: String, kind: String, parent: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, name, kind, now())
    spans += s
    s
  }

  /** Run `body` as a call span under `parent`, with its jobs tagged. */
  def call[T](name: String, parent: Long)(body: => T): T = {
    val s = open(name, "call", parent)
    val sc = spark.sparkContext
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally { sc.clearJobGroup(); s.end = now() }
  }

  /** Wait for listener delivery, then move job and stage spans in. */
  def collect(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    var s = events.poll()
    while (s != null) { spans += s; s = events.poll() }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(s => (s.start, s.id)).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""ms":${Json.num(s.ms)},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"; case '\r' => b ++= "\\r"; case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => s"${str(k)}:${any(v)}" }
    .mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case o: Option[_] => o.map(any).getOrElse("null")
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
