package qbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's probe into Spark: a public `SparkListener` for jobs,
  * stages, tasks and the progress of streaming queries, and a
  * `QueryExecutionListener` for the planning phases of each executed plan.
  * Streaming progress is read from the context's bus rather than from one
  * session's `StreamingQueryManager`, because the engine starts its streams
  * in cloned sessions. Events are buffered in memory; [[take]] drains
  * the listener bus and hands back what arrived since the last call, which
  * in a closed loop is exactly the query that just ran. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val plans = ArrayBuffer.empty[(Long, Long)]
  private var stages, resubmitted, tasks, failed, empty = 0L
  private var waitMs, runMs, cpuNs, gcMs, spill, shW, shR = 0L
  private var outBytes, outRecords = 0L
  private var batches, inputRows, batchMs, commitMs, stateRows, stateBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    if (i.attemptNumber() > 0) resubmitted += 1
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    tasks += 1
    if (info.failed) failed += 1
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => waitMs += math.max(0L, info.launchTime - s))
    runMs += info.finishTime - info.launchTime
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      outBytes += m.outputMetrics.bytesWritten
      outRecords += m.outputMetrics.recordsWritten
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        empty += 1
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val pr = p.progress
      def ms(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      inputRows += pr.numInputRows
      batchMs += pr.batchDuration
      commitMs += ms("walCommit") + ms("commitOffsets")
      // The largest state any batch of the query left behind.
      stateRows = math.max(stateRows, pr.stateOperators.map(_.numRowsTotal).sum)
      stateBytes = math.max(stateBytes, pr.stateOperators.map(_.memoryUsedBytes).sum)
    }
    case _ =>
  }
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)
  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max))
  }

  /** Drains the bus and returns (and resets) everything recorded since the
    * previous call, as JSON fields of the query's line. */
  def take(sc: SparkContext): Seq[(String, Any)] = {
    org.apache.spark.QBenchDrain(sc)
    synchronized {
      def spans(xs: Seq[(Long, Long)]) =
        xs.map { case (s, e) => s"[$s,$e]" }.mkString("[", ",", "]")
      val fields = Seq(
        "jobs" -> spans(jobs.toSeq), "plans" -> spans(plans.toSeq),
        "stages" -> stages, "stages_resubmitted" -> resubmitted,
        "tasks" -> tasks, "tasks_failed" -> failed, "empty_tasks" -> empty,
        "task_wait_ms" -> waitMs, "task_run_ms" -> runMs,
        "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "spill_bytes" -> spill,
        "shuffle_write_bytes" -> shW, "shuffle_read_bytes" -> shR,
        "output_bytes" -> outBytes, "output_records" -> outRecords,
        "stream_batches" -> batches, "stream_input_rows" -> inputRows,
        "stream_batch_ms" -> batchMs, "stream_commit_ms" -> commitMs,
        "stream_state_rows" -> stateRows, "stream_state_bytes" -> stateBytes)
      jobs.clear(); plans.clear(); stageSubmit.clear()
      stages = 0; resubmitted = 0; tasks = 0; failed = 0; empty = 0
      waitMs = 0; runMs = 0; cpuNs = 0; gcMs = 0; spill = 0
      shW = 0; shR = 0; outBytes = 0; outRecords = 0
      batches = 0; inputRows = 0; batchMs = 0; commitMs = 0
      stateRows = 0; stateBytes = 0
      fields
    }
  }
}

object Trace {
  def attach(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def detach(spark: SparkSession, t: Trace): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }
}
