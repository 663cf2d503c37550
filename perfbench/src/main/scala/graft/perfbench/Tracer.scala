package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a SparkListener, a QueryExecutionListener and
  * a StreamingQueryListener, registered only while tracing is on. Spans and
  * counts stay in memory and are written out with the run's result.
  *
  * Span tree: operation → build / action (recorded by the harness) → job →
  * stage. Jobs carry their operation id through the `perfbench.op` local
  * property; planner phases and codegen deltas are attributed to the
  * operation that was current when the listener bus was drained. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  @volatile private var currentOp = ""

  final class StageAgg(val stage: Int, val job: Int, val op: String) {
    var submitMs = 0L; var endMs = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L
    def toMap: Map[String, Any] = Map("stage" -> stage, "job" -> job, "op" -> op,
      "start_ms" -> submitMs, "end_ms" -> endMs, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shWrite, "shuffle_read_bytes" -> shRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
      "input_bytes" -> inBytes, "input_rows" -> inRows)
  }

  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, (Int, String)]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val plans = ArrayBuffer.empty[Map[String, Any]]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  val progress: ArrayBuffer[StreamingQueryProgress] = ArrayBuffer.empty

  private def stageAgg(stage: Int, attempt: Int): StageAgg = {
    val (job, op) = stageJob.getOrElse(stage, (-1, ""))
    stages.getOrElseUpdate((stage, attempt), new StageAgg(stage, job, op))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).map(_.getProperty("perfbench.op", "")).getOrElse("")
      jobStart(e.jobId) = (e.time, op)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = (e.jobId, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, op) =>
        jobs += Map("job" -> e.jobId, "op" -> op, "start_ms" -> t, "end_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val a = stageAgg(i.stageId, i.attemptNumber())
      a.submitMs = i.submissionTime.getOrElse(0L)
      a.endMs = i.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stageAgg(e.stageId, e.stageAttemptId)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        plans += Map("op" -> currentOp, "func" -> func, "end_ms" -> System.currentTimeMillis(),
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "duration_ns" -> durationNs)
      }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    listeners.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    listeners.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Codegen totals so far: (compile ns, generated classes). */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)

  /** Open an operation: its jobs and planner phases are tagged with `id`. */
  def begin(id: String): Unit = {
    currentOp = id
    sc.setLocalProperty("perfbench.op", id)
  }

  def end(): Unit = {
    drain()
    sc.setLocalProperty("perfbench.op", null)
    currentOp = ""
  }

  def span(m: Map[String, Any]): Unit = lock.synchronized { spans += m }

  def dump(): Map[String, Any] = lock.synchronized {
    Map("spans" -> spans.toList, "jobs" -> jobs.toList,
      "stages" -> stages.values.map(_.toMap).toList, "plans" -> plans.toList)
  }
}
