package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one JVM: spans opened by the harness around its
  * calls into each layer, plus the Spark counters the listeners below
  * collect. Nothing is written until [[Trace.dump]].
  *
  * Times are epoch milliseconds as doubles: spans read a nanosecond
  * clock anchored to the wall clock once, so they line up with the
  * millisecond timestamps Spark puts on job events.
  */
object Trace {
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + anchorNs) / 1e6

  final case class Span(id: Int, name: String, parent: Int, runId: String,
      start: Double, var end: Double = Double.NaN)

  final class Job(val id: Int, val start: Double) {
    var end: Double = Double.NaN
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }

  final case class Qe(funcName: String, atMs: Double, phases: Map[String, (Double, Double)])

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var runId = ""

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val aqeUpdates = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[Qe]()
  @volatile var firstJobMs = Double.NaN

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId, nowMs)
    spans += s
    stack = s :: stack
    try body finally {
      s.end = nowMs
      stack = stack.tail
    }
  }

  private[graftbench] def jobStart(e: SparkListenerJobStart): Unit = {
    if (firstJobMs.isNaN) firstJobMs = e.time.toDouble
    jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  private[graftbench] def jobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  private[graftbench] def taskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)));
         m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** The trace as JSON: spans, jobs, AQE re-plan times, query phases. */
  def json(): String = {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run_id":${q(s.runId)},""" +
        s""""start_ms":${num(s.start)},"end_ms":${num(s.end)}}""")
    val jb = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"start_ms":${num(j.start)},"end_ms":${num(j.end)},"tasks":${j.tasks},""" +
        s""""run_ms":${j.runMs},"cpu_ns":${j.cpuNs},"gc_ms":${j.gcMs},""" +
        s""""shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill},""" +
        s""""input_bytes":${j.input},"output_bytes":${j.output}}""")
    val qs = qes.asScala.toSeq.map(x =>
      s"""{"func":${q(x.funcName)},"at_ms":${num(x.atMs)},"phases":{""" +
        x.phases.map { case (k, (a, b)) => s"${q(k)}:[${num(a)},${num(b)}]" }.mkString(",") + "}}")
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],""" +
      s""""aqe_updates_ms":[${aqeUpdates.asScala.map(num).mkString(",")}],""" +
      s""""queries":[${qs.mkString(",")}]}"""
  }

  def confJson(kv: Iterable[(String, String)]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

  def dump(path: String, body: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try w.write(body) finally w.close()
  }
}

/** Job, task and AQE counters (`spark.extraListeners`). In a process
  * the harness does not control (the `graft` CLI), the counters and
  * the effective conf are written at application end to the file named
  * by the `graftbench.trace.out` system property. */
class TraceListener(conf: SparkConf) extends SparkListener {
  private val out = sys.props.get("graftbench.trace.out")

  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
      Trace.aqeUpdates.add(Trace.nowMs)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    out.foreach { p =>
      val t = Trace.json()
      Trace.dump(p, t.dropRight(1) + s""","conf":${Trace.confJson(conf.getAll)}}""")
    }
}

/** Records the effective conf of the session it is created in, to the
  * file named by `graftbench.conf.out`; otherwise inert. */
class ConfListener(conf: SparkConf) extends SparkListener {
  sys.props.get("graftbench.conf.out").foreach(p => Trace.dump(p, Trace.confJson(conf.getAll)))
}

/** Query planning phases (`spark.sql.queryExecutionListeners`):
  * `QueryExecution.tracker` times per executed query. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.qes.add(Trace.Qe(funcName, Trace.nowMs,
      qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** First-job timestamp only: the untraced runs' one hook, for
  * `setup_s`. With `haltWith`, the first job ends the process: the
  * callback writes that result and halts the JVM (a setup probe). */
class FirstJobListener(haltWith: Option[Double => (String, String)] = None) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.firstJobMs.isNaN) {
      Trace.firstJobMs = e.time.toDouble
      haltWith.foreach { f =>
        val (path, body) = f(Trace.firstJobMs)
        Trace.dump(path, body)
        Runtime.getRuntime.halt(0)
      }
    }
}
