package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder around the calls the harness makes into graft. The
  * untraced run uses [[NoTrace]], so its timings carry no listener. */
trait Trace {
  /** Runs `body` as a span named `name` under `parent`; returns its result. */
  def span[T](name: String, parent: Int, attrs: Map[String, Any] = Map.empty)(body: Int => T): T
  /** Runs one operation's `body` under an operation span: its Spark jobs go
    * to a job group of their own and its counters land on the span. */
  def op[T](pass: Int, name: String, parent: Int)(body: Int => T): T
  /** Adds attributes to an open span. */
  def note(span: Int, attrs: (String, Any)*): Unit = ()
  def write(path: String): Unit = ()
}

object NoTrace extends Trace {
  def span[T](name: String, parent: Int, attrs: Map[String, Any])(body: Int => T): T = body(-1)
  def op[T](pass: Int, name: String, parent: Int)(body: Int => T): T = body(-1)
}

/** The traced run's recorder. Spans stay in memory until [[write]]. Spark
  * jobs and stages become spans too, parented to their operation through
  * the job group; task metrics and `QueryPlanningTracker` phases are summed
  * per operation. All state is guarded by `this`: the harness thread and
  * the listener thread both write it. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Trace {
  import Tracer.Span
  private val sc = spark.sparkContext
  // Spark events carry epoch milliseconds; spans use the same clock.
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val groupSpan = mutable.Map.empty[String, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobSpans = mutable.Map.empty[Int, Span]
  @volatile private var currentOp = -1

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def begin(name: String, parent: Int, at: Double, attrs: Map[String, Any]): Span =
    synchronized {
      val s = Span(spans.length, parent, name, at)
      s.attrs ++= attrs
      spans += s
      s
    }

  private def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) counters.getOrElseUpdate(op, mutable.Map.empty).updateWith(key) {
      case Some(x) => Some(x + v)
      case None => Some(v)
    }

  def span[T](name: String, parent: Int, attrs: Map[String, Any])(body: Int => T): T = {
    val s = begin(name, parent, nowMs, attrs)
    try body(s.id) finally synchronized { s.end = nowMs }
  }

  override def note(span: Int, attrs: (String, Any)*): Unit = synchronized {
    spans(span).attrs ++= attrs
  }

  def op[T](pass: Int, name: String, parent: Int)(body: Int => T): T = {
    val s = begin(name, parent, nowMs, Map("kind" -> "op", "pass" -> pass))
    val group = s"$pass/$name"
    synchronized { groupSpan(group) = s.id }
    currentOp = s.id
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try body(s.id)
    finally {
      sc.clearJobGroup()
      BenchAccess.drainListeners(sc)
      currentOp = -1
      synchronized {
        s.end = nowMs
        add(s.id, "codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
        s.attrs ++= counters.getOrElse(s.id, Map.empty[String, Double])
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group.flatMap(groupSpan.get).getOrElse(-1)
    val s = begin("job", op, e.time.toDouble, Map("job_id" -> e.jobId))
    jobSpans(e.jobId) = s
    e.stageIds.foreach { st =>
      stageJob.getOrElseUpdate(st, s.id)
      stageOp.getOrElseUpdate(st, op)
    }
    add(op, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { s =>
      s.end = e.time.toDouble
      s.attrs("succeeded") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val op = stageOp.getOrElse(e.stageId, -1)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
      add(op, "tasks", 1)
      add(op, "task_run_ms", m.executorRunTime.toDouble)
      add(op, "task_cpu_ns", m.executorCpuTime.toDouble)
      add(op, "gc_ms", m.jvmGCTime.toDouble)
      add(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(op, "spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tasks = stageTaskMs.remove((i.stageId, i.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
    val parent = stageJob.getOrElse(i.stageId, -1)
    val s = begin("stage", parent, i.submissionTime.getOrElse(0L).toDouble,
      Map("stage_id" -> i.stageId, "task_ms" -> tasks.toSeq))
    s.end = i.completionTime.getOrElse(0L).toDouble
    add(stageOp.getOrElse(i.stageId, -1), "stages", 1)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val op = currentOp
    add(op, "executions", 1)
    qe.tracker.phases.foreach { case (phase, summary) =>
      add(op, s"${phase}_ms", summary.durationMs.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  override def write(path: String): Unit = synchronized {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs))
    } finally out.close()
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, start: Double,
      var end: Double = Double.NaN, attrs: mutable.Map[String, Any] = mutable.Map.empty)
}
