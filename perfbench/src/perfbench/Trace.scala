package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Spans around calls into the engine's layers, plus the Spark job,
  * stage and query-planning events they cause.
  *
  * A span records layer, name, op id, parent span, start and end on
  * one microsecond clock (epoch-anchored, so listener timestamps share
  * it). While a span is open its id sits in a Spark local property,
  * so every job started from the client thread is charged to the
  * innermost open span. Everything stays in memory; [[json]] writes
  * it out once the run ends, and perfbench/spans.py turns it into the
  * per-layer metrics (self time, jobs, task time, driver time).
  *
  * With tracing off [[span]] only runs its body and no listener is
  * registered, so the untraced run measures the engine alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val layer: String,
      val name: String, val op: Int, val start: Long) {
    var end: Long = -1L
    var failed: Boolean = false
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** The op (one client request) the next spans belong to. */
  var op: Int = -1

  private val jobs = new JobListener
  private val queries = new QueryListener
  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  /** Run `body` as a span of `layer`. A throwing body marks the span
    * failed and rethrows. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(SpanProp)
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), layer,
        name, op, nowUs())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.end = nowUs()
        open = open.tail
        sc.setLocalProperty(SpanProp, saved)
      }
    }

  /** Mark jobs started inside `body` as plan-construction jobs. */
  def constructing[T](body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(ConstructProp, "1")
      try body finally sc.setLocalProperty(ConstructProp, null)
    }

  /** Tag the jobs of the following calls with a run phase
    * (setup, warmup, timed, check); cheap, so set in both modes. */
  def phase(p: String): Unit = spark.sparkContext.setLocalProperty(PhaseProp, p)

  /** Spans, jobs and planning phases as one JSON object. Waits for
    * the listener bus so that every job of the run is in. */
  def json(window: (Long, Long), cores: Int): String = {
    if (enabled) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val sb = new StringBuilder
    sb ++= s"""{"window":[${window._1},${window._2}],"cores":$cores,"spans":["""
    sb ++= spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"op":${s.op},"start":${s.start},""" +
        s""""end":${s.end},"failed":${s.failed}}"""
    }.mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.records.map(_.json).mkString(",")
    sb ++= "],\"queries\":["
    sb ++= queries.records.synchronized(queries.records.toList).map {
      case (t, a, o, p) => s"""{"t":$t,"analysis_ms":$a,"optimizer_ms":$o,"planning_ms":$p}"""
    }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"
  val ConstructProp = "perfbench.construct"

  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  /** Microseconds on an epoch-anchored monotonic clock. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  final class JobRec(val id: Int, val span: Int, val phase: String,
      val construct: Boolean, val startUs: Long) {
    @volatile var endUs: Long = -1L
    var stages, tasks = 0L
    var taskMs, cpuNs, shuffleWrite, shuffleRead, spill, input = 0L
    def json: String =
      s"""{"id":$id,"span":$span,"phase":${Json.str(phase)},"construct":$construct,""" +
        s""""start":$startUs,"end":$endUs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_ms":$taskMs,"cpu_ms":${cpuNs / 1000000L},""" +
        s""""shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,""" +
        s""""spill":$spill,"input":$input}"""
  }

  /** Job intervals and the task metrics of the stages each job ran. */
  final class JobListener extends SparkListener {
    private val byId = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]

    def records: Seq[JobRec] = synchronized(byId.values.toList)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val r = new JobRec(e.jobId, prop(SpanProp).fold(-1)(_.toInt),
        prop(PhaseProp).getOrElse(""), prop(ConstructProp).contains("1"),
        e.time * 1000L)
      byId(e.jobId) = r
      e.stageIds.foreach(stageJob(_) = r)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      for (r <- stageJob.get(info.stageId); m <- Option(info.taskMetrics)) {
        r.stages += 1
        r.tasks += info.numTasks
        r.taskMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled
        r.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** The QueryPlanningTracker phases of every executed query:
    * (analysis start µs, analysis ms, optimizer ms, planning ms). */
  final class QueryListener extends QueryExecutionListener {
    val records = ArrayBuffer.empty[(Long, Long, Long, Long)]
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
      val t = ph.get("analysis").fold(nowUs())(_.startTimeMs * 1000L)
      records.synchronized {
        records += ((t, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
}

/** Minimal JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
