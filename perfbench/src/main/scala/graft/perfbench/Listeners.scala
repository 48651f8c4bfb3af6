package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Times below are epoch milliseconds, as Spark stamps them. */
final case class JobRec(id: Int, submitMs: Long)
final case class StageRec(stageId: Int, attempt: Int, submitMs: Long, endMs: Long)
final case class TaskRec(
    stageId: Int, attempt: Int, launchMs: Long, finishMs: Long, failed: Boolean,
    cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)
final case class ProgressRec(
    tsMs: Long, triggerMs: Long, commitMs: Long, stateRows: Long, stateBytes: Long)

/** The benchmark's own view of the Spark runtime: every job, completed
  * stage and finished task, kept in memory while attached. */
final class RuntimeListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageRec(i.stageId, i.attemptNumber(), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    tasks.add(TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime,
      failed = e.reason != Success,
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      shuffleWriteBytes = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spillBytes = if (m == null) 0L else m.diskBytesSpilled,
      outputBytes = if (m == null) 0L else m.outputMetrics.bytesWritten))
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear() }
}

/** Streaming micro-batch progress: one record per progress event. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    progress.add(ProgressRec(
      tsMs = java.time.Instant.parse(p.timestamp).toEpochMilli,
      triggerMs = dur.get("triggerExecution").map(_.longValue).getOrElse(0L),
      commitMs = ops.map(_.commitTimeMs).sum,
      stateRows = ops.map(_.numRowsTotal).sum,
      stateBytes = ops.map(_.memoryUsedBytes).sum))
  }

  def clear(): Unit = progress.clear()
}
