package perfbench

import java.lang.management.ManagementFactory

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: `run` is the timed part; the checker it returns
  * runs after the clock stops and gives an error message for a wrong answer.
  */
final case class Step(kind: String, cls: String, run: OpCtx => (() => Option[String]))

/** What a step may record about itself besides its latency. */
final class OpCtx(val outDir: String, val tracer: Tracer) {
  var buildS: Double = Double.NaN
  var execS: Double = Double.NaN
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}

trait Workload {
  /** Untimed state the timed ops start from (graph build, initial save). */
  def setup(): Unit
  /** The ops of pass `p`; pass -1 is the untimed warm pass. */
  def pass(p: Int): Seq[Step]
  /** Untimed work after the last op; returns workload-level records. */
  def finish(): Json.Obj
}

/** Closed-loop benchmark driver: one client thread runs the workload's
  * passes back to back against a `local[cores]` session until `seconds`
  * have been measured, then writes `results.json` (and `trace.json` in
  * trace mode) into the run directory for `run.py` to check and reduce.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <cores>
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val Array(workloadName, seedS, secondsS, traceS, dataDir, runDir, cores) = argv
    val seed = seedS.toLong
    val traceMode = traceS == "1"
    val spark = graft.core.Masters.configure(SparkSession.builder(), cores)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$runDir/checkpoints")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val sparkTrace = new SparkTrace(spark, tracer)
    val workload: Workload = workloadName match {
      case "registry-queries" => new QueryMix(spark, tracer, dataDir, seed)
      case "coding-session" => new CodingSession(spark, tracer, runDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    // old-generation occupancy right after each collection, young ones included
    @volatile var heapPeak = 0L
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (pool.matches("(?i).*(old|tenured).*")) heapPeak = heapPeak.max(u.getUsed)
            }
          }, null, null)
      case _ => ()
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
    var nextOp = 0
    def runStep(step: Step, pass: Int, warm: Boolean, traced: Boolean): Unit = {
      val i = nextOp
      nextOp += 1
      val ctx = new OpCtx(s"$runDir/out/op-$i", tracer)
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val outcome: Either[String, () => Option[String]] =
        try Right(tracer.op(i, step.kind)(step.run(ctx)))
        catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      val gc1 = gcMs
      val error = outcome.fold(Some(_), check =>
        try tracer.phase("check")(check())
        catch { case e: Throwable => Some(s"check failed: ${e.getClass.getName}: ${e.getMessage}") })
      ops += Json.Obj(Seq[(String, Any)](
        "i" -> i, "pass" -> pass, "warm" -> warm, "traced" -> traced,
        "kind" -> step.kind, "cls" -> step.cls,
        "start_ms" -> tracer.epochMs(t0), "end_ms" -> tracer.epochMs(t1),
        "latency_s" -> (t1 - t0) / 1e9, "build_s" -> ctx.buildS, "exec_s" -> ctx.execS,
        "gc_ms" -> (gc1 - gc0), "out" -> ctx.outDir, "error" -> error.orNull) ++ ctx.extra: _*)
    }

    if (traceMode) { tracer.enabled = true; sparkTrace.attach() }
    tracer.phase("setup") {
      workload.setup()
      workload.pass(-1).foreach(runStep(_, -1, warm = true, traced = traceMode))
    }
    // the harness's own answer checks are not set-up
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - tracer.phaseNs("check") / 1e9

    // Trace mode runs passes untraced, traced, traced, untraced (at least
    // those four), so the tracing overhead is measured inside the same run.
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (traceMode && p < 4) || (System.nanoTime() - t0) / 1e9 < secondsS.toDouble) {
      val traced = traceMode && (p % 4 == 1 || p % 4 == 2)
      if (traceMode) {
        if (traced) sparkTrace.attach() else sparkTrace.detach()
        tracer.enabled = traced
      }
      workload.pass(p).foreach(runStep(_, p, warm = false, traced = traced))
      p += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (traceMode) { sparkTrace.detach(); tracer.enabled = false }
    val finished = tracer.phase("finish")(workload.finish())

    val rt = ManagementFactory.getRuntimeMXBean
    val meta = Json.Obj(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores.toInt,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    write(s"$runDir/results.json", Json.Obj(
      "meta" -> meta, "session_s" -> sessionS, "setup_s" -> setupS, "timed_s" -> timedS, "passes" -> p,
      "heap_peak_mb" -> heapPeak / 1048576.0, "ops" -> ops.toSeq, "workload" -> finished))
    if (traceMode) write(s"$runDir/trace.json", sparkTrace.export())
    spark.stop()
  }

  private def write(path: String, o: Json.Obj): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.render(o) + "\n")
}
