package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One op as the traced pass sees it: its own spans (op, build,
  * action, release) and the Spark work attributed to it. Times are
  * epoch milliseconds, as Spark's listener events carry them. */
final class OpTrace(val id: String, val key: String, val pass: Int) {
  var start, buildEnd, actionEnd, end = 0L
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
  var listingJobs, jobsBeforeAction = 0
  var stages, tasks, failedTasks = 0
  var runMs, gcMs, cpuNs = 0L
  var inputBytes, shuffleRead, shuffleWrite, spillBytes = 0L
  var executions = 0
  var analysisMs, optimizationMs, planningMs = 0L
  var batches, stateRows = 0L
  var triggerMs, walMs, stateCommitMs = 0L
  var transferMs, rowsWritten, attempts = 0L
  var sourceBytes, outputBytes = 0L

  def wallMs: Long = end - start

  /** Milliseconds of [lo, hi) covered by at least one job. */
  def jobCoverMs(lo: Long, hi: Long): Long = {
    val iv = jobs.map { case (_, s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, at = 0L
    iv.foreach { case (s, e) =>
      val from = math.max(s, at)
      if (e > from) { covered += e - from; at = e }
    }
    covered
  }

  def driverGapMs: Long = wallMs - jobCoverMs(start, end)

  def json: String = Json.obj(
    "id" -> id, "key" -> key, "pass" -> pass,
    "spans" -> Json.Raw(Seq(
      Json.obj("name" -> "op", "parent" -> None, "start" -> start, "end" -> end),
      Json.obj("name" -> "build", "parent" -> "op", "start" -> start,
        "end" -> buildEnd, "self_ms" -> ((buildEnd - start) - jobCoverMs(start, buildEnd))),
      Json.obj("name" -> "action", "parent" -> "op", "start" -> buildEnd,
        "end" -> actionEnd,
        "self_ms" -> ((actionEnd - buildEnd) - jobCoverMs(buildEnd, actionEnd))),
      Json.obj("name" -> "release", "parent" -> "op", "start" -> actionEnd,
        "end" -> end, "self_ms" -> (end - actionEnd))
    ).mkString("[", ",", "]")),
    "jobs" -> Json.Raw(jobs.map { case (j, s, e) =>
      Json.obj("job" -> j, "parent" -> (if (s < buildEnd) "build" else "action"),
        "start" -> s, "end" -> e)
    }.mkString("[", ",", "]")),
    "counts" -> Json.Raw(Json.obj(
      "jobs" -> jobs.size, "jobs_before_action" -> jobsBeforeAction,
      "listing_jobs" -> listingJobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "executions" -> executions,
      "batches" -> batches, "state_rows" -> stateRows,
      "rows_written" -> rowsWritten, "attempts" -> attempts)),
    "times_ms" -> Json.Raw(Json.obj(
      "build" -> (buildEnd - start), "action" -> (actionEnd - buildEnd),
      "release" -> (end - actionEnd), "driver_gap" -> driverGapMs,
      "run" -> runMs, "cpu" -> cpuNs / 1e6, "gc" -> gcMs,
      "analysis" -> analysisMs, "optimization" -> optimizationMs,
      "planning" -> planningMs, "trigger" -> triggerMs, "wal_commit" -> walMs,
      "state_commit" -> stateCommitMs, "transfer" -> transferMs)),
    "bytes" -> Json.Raw(Json.obj(
      "input" -> inputBytes, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "spill" -> spillBytes,
      "transfer_source" -> sourceBytes, "transfer_output" -> outputBytes)))
}

/** The traced pass's instrument: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, registered by
  * the benchmark itself. Jobs are attributed to the op whose id rides
  * the job's `graftbench.op` local property; events without one (none
  * are expected with a single client) go to the op in flight. */
final class Tracer(spark: SparkSession) {
  val OpProperty = "graftbench.op"
  private val ops = mutable.LinkedHashMap.empty[String, OpTrace]
  @volatile private var current: OpTrace = null
  private val stageOp = mutable.Map.empty[Int, OpTrace]
  private val jobOp = mutable.Map.empty[Int, (OpTrace, Long)]

  def traces: Seq[OpTrace] = ops.values.toSeq

  private def opOf(props: java.util.Properties): OpTrace =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .flatMap(ops.get).getOrElse(current)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val op = opOf(e.properties)
      if (op != null) {
        jobOp(e.jobId) = (op, e.time)
        e.stageInfos.foreach(si => stageOp(si.stageId) = op)
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.startsWith("Listing leaf files")) op.listingJobs += 1
        if (op.buildEnd == 0L) op.jobsBeforeAction += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.remove(e.jobId).foreach { case (op, t0) => op.jobs += ((e.jobId, t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        op.tasks += 1
        if (e.reason != Success) op.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          op.runMs += m.executorRunTime
          op.cpuNs += m.executorCpuTime
          op.gcMs += m.jvmGCTime
          op.inputBytes += m.inputMetrics.bytesRead
          op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          op.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val op = current
      if (op != null) {
        op.executions += 1
        val ph = qe.tracker.phases
        op.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        op.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        op.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val op = current
        if (op != null) {
          val p = e.progress
          val d = p.durationMs.asScala
          op.batches += 1
          op.triggerMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
          op.walMs += d.get("walCommit").map(_.longValue).getOrElse(0L)
          p.stateOperators.foreach { so =>
            op.stateCommitMs += so.commitTimeMs
            op.stateRows = math.max(op.stateRows, so.numRowsTotal)
          }
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def uninstall(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  def begin(id: String, key: String, pass: Int): OpTrace = synchronized {
    val op = new OpTrace(id, key, pass)
    ops(id) = op
    current = op
    op
  }

  /** Closes the op once every event it caused has been delivered. */
  def finish(op: OpTrace): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized { current = null }
  }
}
