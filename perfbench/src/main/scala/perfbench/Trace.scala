package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Harness-side spans around the calls into each engine layer.
  *
  * Spans are opened and closed on the one client thread. Each open span
  * is published as the `perfbench.span` local property, so every Spark job
  * the engine submits beneath it carries its parent span id; the op id
  * rides the job group (`perfbench-op-<n>`) and the `perfbench.op`
  * property, which threads the engine starts inside an op inherit.
  */
final class Tracer(sc: SparkContext) {
  /** Spans are recorded only while this is set. */
  @volatile var enabled: Boolean = false
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Json.Obj]
  private var stack = List.empty[String]
  private var nextId = 0
  @volatile var currentOp: Int = -1

  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  /** Runs `body` as op `op`: sets the job group the listener attributes by. */
  def op[T](op: Int, kind: String)(body: => T): T = {
    currentOp = op
    sc.setJobGroup(s"perfbench-op-$op", kind, interruptOnCancel = false)
    sc.setLocalProperty("perfbench.op", op.toString)
    try span("op") { body }
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.op", null)
      currentOp = -1
    }
  }

  /** Runs `body` outside any op, under job group `perfbench-<phase>`. */
  def phase[T](phase: String)(body: => T): T = {
    sc.setJobGroup(s"perfbench-$phase", phase, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try span(phase) { body }
    finally {
      phaseNs(phase) += System.nanoTime() - t0
      sc.clearJobGroup()
    }
  }

  /** Wall time spent in each harness phase so far, traced or not. */
  val phaseNs: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = s"h$nextId"
      nextId += 1
      val parent = stack.headOption.orNull
      val t0 = System.nanoTime()
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id)
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.orNull)
        spans += Json.Obj("id" -> id, "parent" -> parent, "op" -> currentOp,
          "name" -> name, "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1))
      }
    }

  def harnessSpans: Seq[Json.Obj] = spans.toSeq
}

/** Spark-side counts for the traced run: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (planning phases per action) and a
  * StreamingQueryListener (micro-batches). Events are keyed by the
  * properties the [[Tracer]] set on the submitting thread and read only
  * after [[org.apache.spark.PerfbenchBus.drain]], so attribution is exact.
  */
final class SparkTrace(spark: SparkSession, tracer: Tracer) {
  private final class Stage(val id: String, val props: Properties, val submitMs: Double) {
    var firstLaunchMs = Double.NaN
    var endMs = Double.NaN
    var tasks, failed = 0
    var runMs, gcMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill = 0L
  }
  private final class Job(val id: Int, val props: Properties, val submitMs: Double) {
    var endMs = Double.NaN
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[String, Stage]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
  private val streamOp = new ConcurrentHashMap[String, Int]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new Job(e.jobId, Option(e.properties).getOrElse(new Properties), e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val key = s"${i.stageId}.${i.attemptNumber()}"
      stages.put(key, new Stage(key, Option(e.properties).getOrElse(new Properties),
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stages.get(s"${i.stageId}.${i.attemptNumber()}")).foreach(s =>
        s.endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stages.get(s"${e.stageId}.${e.stageAttemptId}")).foreach { s =>
        val t = e.taskInfo.launchTime.toDouble
        if (s.firstLaunchMs.isNaN || t < s.firstLaunchMs) s.firstLaunchMs = t
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(s"${e.stageId}.${e.stageAttemptId}")).foreach { s =>
        s.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed || e.taskInfo.attemptNumber > 0) s.failed += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case _ => ()
    }
  }

  private def phaseMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add((qe.id, funcName, phaseMs(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.add((qe.id, funcName, phaseMs(qe)))
  }

  private val streamListener = new StreamingQueryListener {
    // onQueryStarted runs synchronously inside DataStreamWriter.start(),
    // on the client thread, while the op that started the stream is open
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamOp.put(e.runId.toString, tracer.currentOp)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      batches.add((p.runId.toString, p.batchId, ms))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Delivers every pending event, then stops listening. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  private val OpGroup = "perfbench-op-(\\d+)".r

  /** The op a job group names, or a stream run started inside an op. */
  private def opOf(props: Properties): Option[Int] =
    Option(props.getProperty("spark.jobGroup.id")).flatMap {
      case OpGroup(n) => Some(n.toInt)
      case g => Option(streamOp.get(g)).map(_.intValue)
    }.orElse(Option(props.getProperty("perfbench.op")).map(_.toInt))

  private def phaseOf(props: Properties): Option[String] =
    Option(props.getProperty("spark.jobGroup.id")).filter(g =>
      g.startsWith("perfbench-") && !g.startsWith("perfbench-op-"))

  /** Job and stage spans plus the per-action and per-batch records. */
  def export(): Json.Obj = {
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.Obj("id" -> s"j${j.id}", "parent" -> j.props.getProperty("perfbench.span"),
        "op" -> opOf(j.props).getOrElse(-1), "phase" -> phaseOf(j.props).orNull,
        "name" -> "spark.job", "start_ms" -> j.submitMs, "end_ms" -> j.endMs)
    }
    val stageSpans = stages.values.asScala.toSeq.sortBy(_.submitMs).map { s =>
      val stageId = s.id.takeWhile(_ != '.').toInt
      Json.Obj("id" -> s"s${s.id}",
        "parent" -> Option(stageJob.get(stageId)).map(j => s"j$j").orNull,
        "op" -> opOf(s.props).getOrElse(-1), "name" -> "spark.stage",
        "start_ms" -> s.submitMs, "end_ms" -> s.endMs,
        "first_launch_ms" -> s.firstLaunchMs, "tasks" -> s.tasks,
        "failed_tasks" -> s.failed, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill)
    }
    val unattributed = jobs.values.asScala.count(j => opOf(j.props).isEmpty && phaseOf(j.props).isEmpty)
    val acts = actions.asScala.toSeq.map { case (id, func, ms) =>
      val op = Option(execGroup.get(id)).collect { case OpGroup(n) => n.toInt }.getOrElse(-1)
      Json.Obj("exec_id" -> id, "op" -> op, "func" -> func, "plan_ms" -> ms)
    }
    val bs = batches.asScala.toSeq.map { case (run, id, ms) =>
      Json.Obj("op" -> Option(streamOp.get(run)).map(_.intValue).getOrElse(-1),
        "run_id" -> run, "batch" -> id, "duration_ms" -> ms)
    }
    Json.Obj("spans" -> (tracer.harnessSpans ++ jobSpans ++ stageSpans),
      "actions" -> acts, "batches" -> bs, "unattributed_jobs" -> unattributed)
  }
}

/** Minimal JSON rendering for the harness's output files. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o: Obj => o.fields.map { case (k, x) => s"${quote(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => other.toString // Int, Long, Boolean
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
