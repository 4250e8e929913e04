package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One finished micro-batch, as StreamingQueryProgress reports it. */
final case class Batch(runId: String, batchId: Long, startMs: Long,
                       durations: Map[String, Long], inputRows: Long, stateBytes: Long)

/** Micro-batch progress of every stream the process runs.
  *
  * Installed through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, never through
  * `spark.streams.addListener`: the engine runs each stream on a
  * `newSession()` clone, and a listener added to the bench session's
  * own manager sees none of its batches. */
class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    StreamProgress.batches.add(Batch(
      p.runId.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, p.stateOperators.map(_.memoryUsedBytes).sum))
  }
}

object StreamProgress {
  val batches = new ConcurrentLinkedQueue[Batch]
}

/** Raw scheduler and SQL-execution records of the traced passes. Times
  * are the listener events' own epoch milliseconds; linking them into
  * the span tree is the report's job (perfbench/report.py). */
final class TraceListener extends SparkListener {
  final case class Exec(id: Long, start: Long, var end: Long, description: String, planHash: Int)
  final case class Job(id: Int, start: Long, var end: Long, execId: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long, tasks: Int,
                         taskMs: Long, gcMs: Long, deserMs: Long, inputBytes: Long,
                         outputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         fetchWaitMs: Long, spillBytes: Long)

  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val failedTasks = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failedTasks((e.stageId, e.stageAttemptId)) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val start = s.submissionTime.getOrElse(0L)
    stages += Stage(s.stageId, s.attemptNumber(), start, s.completionTime.getOrElse(start),
      s.numTasks, m.executorRunTime, m.jvmGCTime, m.executorDeserializeTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.time, -1L, s.description,
          s.physicalPlanDescription.hashCode)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }
}
