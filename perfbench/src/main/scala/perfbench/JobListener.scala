package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spark job, stage and task counters of one span. Byte counts are MB
  * (2^20 bytes).
  */
final case class Counters(jobs: Int, tasks: Int, taskBusyS: Double,
    taskP50Ms: Double, taskMaxMs: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, shuffleRecords: Long, spillMb: Double,
    inputMb: Double, outputMb: Double, driverGapS: Double)

/** The benchmark's own listener: records every job's wall interval,
  * the thread that submitted it, and every finished task's metrics. A
  * span's counters cover the jobs its own thread STARTED inside it; a
  * job started before the span began is not counted even if it is
  * still running, nor is a job another thread started meanwhile.
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val thread = Option(e.properties).map(_.getProperty(JobListener.ThreadProperty, "")).getOrElse("")
    jobs(e.jobId) = Job(e.time, -1L, thread)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    else tasks += Task(e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0, 0)
  }

  /** Counters of the jobs the span's thread started inside it. */
  def counters(s: Span): Counters = counters(s.startMs, s.endMs, s.thread)

  /** Counters of the jobs `thread` started in `[fromMs, untilMs]`. */
  def counters(fromMs: Long, untilMs: Long, thread: String): Counters = synchronized {
    val in = jobs.filter { case (_, j) =>
      j.start >= fromMs && j.start <= untilMs && j.thread == thread }
    val ids = in.keySet
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(ids.contains))
    val durs = ts.map(_.durMs.toDouble)
    val mb = 1024.0 * 1024.0
    val covered = Trace.coveredMs(in.values.map(j =>
      (j.start, if (j.end < 0) untilMs else j.end)).toSeq, fromMs, untilMs)
    Counters(
      jobs = in.size,
      tasks = ts.size,
      taskBusyS = durs.sum / 1000.0,
      taskP50Ms = if (durs.isEmpty) 0.0 else Stats.median(durs.toSeq),
      taskMaxMs = if (durs.isEmpty) 0.0 else durs.max,
      shuffleWriteMb = ts.map(_.shufW).sum / mb,
      shuffleReadMb = ts.map(_.shufR).sum / mb,
      shuffleRecords = ts.map(_.shufRec).sum,
      spillMb = ts.map(_.spill).sum / mb,
      inputMb = ts.map(_.input).sum / mb,
      outputMb = ts.map(_.output).sum / mb,
      driverGapS = ((untilMs - fromMs) - covered) / 1000.0)
  }
}

object JobListener {
  /** Spark local property naming the thread that submitted a job. */
  val ThreadProperty = "perfbench.thread"

  /** Tags the calling thread's jobs with its name. */
  def tagThread(sc: org.apache.spark.SparkContext): Unit =
    sc.setLocalProperty(ThreadProperty, Thread.currentThread.getName)

  private final case class Job(start: Long, var end: Long, thread: String)
  private final case class Task(stage: Int, durMs: Long, shufW: Long,
      shufR: Long, shufRec: Long, spill: Long, input: Long, output: Long)
}
