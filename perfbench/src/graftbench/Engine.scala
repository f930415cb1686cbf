package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-side counters for the traced run: a SparkListener registered
  * on the benchmark's own session. Every job carries the operation id
  * the harness set as a local property, so stages, tasks and SQL
  * executions are attributed to the operation (and so to the client)
  * that caused them.
  */
final class EngineListener extends SparkListener {
  final case class Job(op: Long, startMs: Long, stages: Seq[Int], exec: Long)
  final case class Task(stage: Int, launchMs: Long, durMs: Long, cpuNs: Long, gcMs: Long, spill: Long, shuffleWrite: Long,
                        bytesIn: Long, bytesOut: Long)
  final case class Exec(details: String, startMs: Long, endMs: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val execStart = new ConcurrentHashMap[Long, (String, Long)]()
  val execs = new ConcurrentHashMap[Long, Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(EngineListener.OpKey))).map(_.toLong)
      .getOrElse(-1L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(op, e.time, e.stageIds, exec))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // nested executions (rootExecutionId != executionId) run inside
      // their root's interval; counting them would double the time
      if (s.rootExecutionId.forall(_ == s.executionId))
        execStart.put(s.executionId, (s.details, s.time))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(end.executionId)).foreach { case (d, t) =>
        execs.put(end.executionId, Exec(d, t, end.time))
      }
    case _ =>
  }

  /** Operation of each finished SQL execution (via its jobs). */
  def execOps: Map[Long, Long] =
    jobs.values.asScala.filter(_.exec >= 0).map(j => j.exec -> j.op).toMap
}

object EngineListener {
  val OpKey = "graftbench.op"
}

/** Progress of each streaming micro-batch, stamped when it arrives. */
final class StreamListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryListener.QueryProgressEvent)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(System.nanoTime() -> e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
