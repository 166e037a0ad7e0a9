package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records spans and counters from Spark's public listener APIs between
  * `start` and `stop`; the listeners are registered only in between.
  * Spans are kept in memory and handed out by `spans` when the run ends.
  *
  * Span kinds: SQL query execution (start/end, execution id, call site), job
  * (start/end, execution id, call site), stage (submit/complete, task
  * counters summed over the stage's tasks) and streaming micro-batch
  * (trigger start + duration breakdown, state-store counters). Parents
  * and the key sample each span belongs to are resolved from ids and time
  * containment in `metrics.py`.
  */
final class Tracer(spark: SparkSession) {
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val executionEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  @volatile private var events = 0L
  @volatile private var on = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      events += 1
      val first = e.stageInfos.minBy(_.stageId)
      val props = Option(e.properties)
      jobs.add(Map[String, Any]("job" -> e.jobId, "start_ms" -> e.time,
        "exec" -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L),
        "site" -> first.name, "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      events += 1
      jobEnds.add(Map[String, Any]("job" -> e.jobId, "end_ms" -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      events += 1
      val m = e.taskMetrics
      val row = taskSums.computeIfAbsent(e.stageId, _ => new Array[Long](8))
      row.synchronized {
        row(0) += 1
        if (m != null) {
          row(1) += m.executorRunTime
          row(2) += m.executorCpuTime
          row(3) += m.jvmGCTime
          row(4) += m.inputMetrics.bytesRead
          row(5) += m.shuffleReadMetrics.totalBytesRead
          row(6) += m.shuffleWriteMetrics.bytesWritten
          row(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      events += 1
      val s = e.stageInfo
      stages.add(Map[String, Any]("stage" -> s.stageId, "name" -> s.name,
        "start_ms" -> s.submissionTime.getOrElse(-1L),
        "end_ms" -> s.completionTime.getOrElse(-1L)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case s: SparkListenerSQLExecutionStart =>
        events += 1
        executions.add(Map[String, Any]("exec" -> s.executionId,
          "root" -> s.rootExecutionId.getOrElse(s.executionId),
          "site" -> s.description, "start_ms" -> s.time))
      case s: SparkListenerSQLExecutionEnd =>
        events += 1
        executionEnds.add(Map[String, Any]("exec" -> s.executionId, "end_ms" -> s.time))
      case _ => ()
    }
  }

  private def phasesOf(qe: QueryExecution): Unit = if (on) {
    events += 1
    val p = qe.tracker.phases
    phases.add(p.flatMap { case (name, s) =>
      Seq(s"${name}_start_ms" -> s.startTimeMs, s"${name}_end_ms" -> s.endTimeMs)
    })
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phasesOf(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phasesOf(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        events += 1
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val state = p.stateOperators
        batches.add(Map[String, Any](
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "batch" -> p.batchId,
          "trigger_ms" -> d("triggerExecution"), "planning_ms" -> d("queryPlanning"),
          "addbatch_ms" -> d("addBatch"),
          "log_commit_ms" -> (d("walCommit") + d("commitOffsets")),
          "state_commit_ms" -> state.map(_.commitTimeMs).sum,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum))
      }
  }

  /** Registers the listeners. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Waits until the listener buses have delivered every event of the
    * traced pass, then unregisters the listeners. */
  def stop(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10e9.toLong
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span recorded while started. */
  def spans(): Map[String, Any] = {
    val ends = jobEnds.asScala.map(j => j("job") -> j("end_ms")).toMap
    val execEnds = executionEnds.asScala.map(x => x("exec") -> x("end_ms")).toMap
    Map[String, Any](
      "executions" -> executions.asScala.toSeq.map(x =>
        x + ("end_ms" -> execEnds.getOrElse(x("exec"), -1L))),
      "phases" -> phases.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq.map(j =>
        j + ("end_ms" -> ends.getOrElse(j("job"), -1L))),
      "stages" -> stages.asScala.toSeq.map { s =>
        val t = Option(taskSums.get(s("stage").asInstanceOf[Int]))
          .getOrElse(new Array[Long](8))
        s ++ Seq("task_count" -> t(0), "run_ms" -> t(1), "cpu_ns" -> t(2),
          "gc_ms" -> t(3), "input_bytes" -> t(4), "shuffle_read_bytes" -> t(5),
          "shuffle_write_bytes" -> t(6), "spill_bytes" -> t(7))
      },
      "batches" -> batches.asScala.toSeq)
  }
}

object Tracer {
  /** Counts streaming input rows; used in the untimed pass, so that the
    * timed loop runs with no listener at all. */
  final class InputRows extends StreamingQueryListener {
    @volatile private var rows = 0L
    @volatile private var progress = 0L
    def reset(): Unit = { rows = 0L; progress = 0L }
    /** Input rows seen since `reset`, once the bus has delivered them. */
    def settled(): Long = {
      var last = -1L
      while (progress != last) { last = progress; Thread.sleep(50) }
      rows
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { rows += e.progress.numInputRows; progress += 1 }
  }
}
