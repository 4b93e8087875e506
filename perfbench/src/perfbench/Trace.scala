package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters of one traced op. Times are milliseconds. */
final class Layers {
  var qes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var jobs, stages, tasks = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var outputBytes = 0L
  var scanRows, filesRead, scanBytes = 0L
  var compiles, compileNs = 0L
  var triggerMs, addBatchMs, streamPlanningMs, walCommitMs, streamInputRows = 0L

  def toJson: String = Json.obj(
    "qes" -> qes, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "job_spans" -> jobSpans.map { case (a, b) => Seq(a, b) },
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
    "task_gc_ms" -> taskGcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "output_bytes" -> outputBytes, "scan_rows" -> scanRows,
    "scan_bytes" -> scanBytes, "files_read" -> filesRead,
    "compiles" -> compiles, "compile_ms" -> compileNs / 1e6,
    "trigger_ms" -> triggerMs,
    "add_batch_ms" -> addBatchMs, "stream_planning_ms" -> streamPlanningMs,
    "wal_commit_ms" -> walCommitMs, "stream_input_rows" -> streamInputRows)
}

/** The traced run's instruments: a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener, attached only around traced ops. Events
  * are charged to the op that is current when they are delivered; the bus
  * is drained before an op ends its trace, so no event leaks into the next
  * op. Spans stay in memory until [[spanLines]] is written at the end.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var current: Layers = null
  @volatile private var currentOp = -1
  private val spans = mutable.ArrayBuffer.empty[String]

  private def span(name: String, id: String, parent: String, start: Long, end: Long): Unit =
    spans.synchronized {
      spans += Json.obj("op" -> currentOp, "name" -> name, "id" -> id,
        "parent" -> parent, "start_ms" -> start, "end_ms" -> end)
    }

  /** The root span of traced op `op`, measured by the caller. */
  def opSpan(op: Int, start: Long, end: Long): Unit =
    spans.synchronized {
      spans += Json.obj("op" -> op, "name" -> "op", "id" -> s"op-$op",
        "parent" -> null, "start_ms" -> start, "end_ms" -> end)
    }

  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = current; if (l == null) return
      l.jobs += 1; jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val l = current; if (l == null) return
      jobStart.remove(e.jobId).foreach { s =>
        l.jobSpans += ((s, e.time))
        span("job", s"job-${e.jobId}", s"op-$currentOp", s, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val l = current; if (l == null) return
      val i = e.stageInfo
      l.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime)
        span("stage", s"stage-${i.stageId}.${i.attemptNumber()}",
          stageJob.get(i.stageId).fold(s"op-$currentOp")(j => s"job-$j"), s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = current; if (l == null || e.taskMetrics == null) return
      val m = e.taskMetrics
      l.tasks += 1
      l.taskRunMs += m.executorRunTime
      l.taskCpuNs += m.executorCpuTime
      l.taskGcMs += m.jvmGCTime
      l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      l.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      l.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val l = current; if (l == null) return
      l.qes += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        phase match {
          case "analysis" => l.analysisMs += p.durationMs
          case "optimization" => l.optimizationMs += p.durationMs
          case "planning" => l.planningMs += p.durationMs
          case _ =>
        }
        span(s"catalyst.$phase", s"qe-${qe.id}-$phase", s"op-$currentOp", p.startTimeMs, p.endTimeMs)
      }
      Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        l.scanRows += m("numOutputRows"); l.filesRead += m("numFiles"); l.scanBytes += m("filesSize")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val l = current; if (l == null) return
      val p = e.progress
      if (p.numInputRows == 0) return
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      l.triggerMs += d("triggerExecution"); l.addBatchMs += d("addBatch")
      l.streamPlanningMs += d("queryPlanning"); l.walCommitMs += d("walCommit")
      l.streamInputRows += p.numInputRows
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      span("streaming.trigger", s"batch-${p.batchId}", s"op-$currentOp", start, start + d("triggerExecution"))
    }
  }

  /** Run `f` as traced op `op`: attach the listeners, charge every event
    * to a fresh [[Layers]], drain the bus, detach. The drain and the
    * attach/detach happen outside the timing the caller takes inside `f`.
    */
  def traced[A](op: Int)(f: => A): (A, Layers) = {
    val sc = spark.sparkContext
    val l = new Layers
    sc.addSparkListener(sched)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    PerfbenchBus.drain(sc)
    currentOp = op; current = l
    val c0 = Codegen.compiles; val n0 = Codegen.compileNs
    try {
      val r = f
      l.compiles = Codegen.compiles - c0; l.compileNs = Codegen.compileNs - n0
      PerfbenchBus.drain(sc)
      (r, l)
    } finally {
      current = null; currentOp = -1
      jobStart.clear(); stageJob.clear()
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(sched)
    }
  }

  def spanLines: Seq[String] = spans.synchronized(spans.toList)
}

/** Spark's process-wide codegen counters. */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
