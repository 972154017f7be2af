package graft

import org.apache.spark.scheduler._

/** One stage's task metrics, summed over the tasks that ended since the
  * listener's last `reset()`. Times are task wall milliseconds; `wallMs`
  * is submission to completion (-1 until the stage completes). Max task
  * time next to the mean separates a skewed stage (a few tasks own the
  * wall clock) from a uniformly slow one.
  */
final case class StageMetrics(
    id: Int,
    name: String = "",
    tasks: Int = 0,
    taskMs: Long = 0L,
    maxTaskMs: Long = 0L,
    inputRecords: Long = 0L,
    shuffleReadBytes: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    memorySpillBytes: Long = 0L,
    diskSpillBytes: Long = 0L,
    wallMs: Long = -1L) {

  /** Field-wise sum (max for `maxTaskMs`); keeps this one's id, name and
    * wall time.
    */
  def +(o: StageMetrics): StageMetrics = copy(
    tasks = tasks + o.tasks,
    taskMs = taskMs + o.taskMs,
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs),
    inputRecords = inputRecords + o.inputRecords,
    shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes,
    memorySpillBytes = memorySpillBytes + o.memorySpillBytes,
    diskSpillBytes = diskSpillBytes + o.diskSpillBytes)

  private def MB = 1048576.0

  def line: String =
    f"[stage $id%5d] wall=${wallMs / 1000.0}%7.3f s tasks=$tasks%4d " +
      f"sum=${taskMs / 1000.0}%8.3f s max=${maxTaskMs / 1000.0}%7.3f s " +
      f"inRec=$inputRecords%12d shufR=${shuffleReadBytes / MB}%9.2f MB " +
      f"shufW=${shuffleWriteBytes / MB}%9.2f MB " +
      f"spill=${memorySpillBytes / MB}%.2f/${diskSpillBytes / MB}%.2f MB  " +
      name.takeWhile(_ != '\n').take(72)
}

/** One job's wall time from the scheduler's start/end event stamps
  * (-1 until it ends).
  */
final case class JobMetrics(id: Int, startMs: Long, endMs: Long = -1L) {
  def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  def line: String = f"[job $id%5d] wall=${wallMs / 1000.0}%7.3f s"
}

/** Per-stage task metrics and per-job wall time for every job that runs
  * between `reset()` and a read, so a query's wall time can be split
  * into jobs, stages, task time and shuffle/spill bytes without the
  * Spark UI (disabled in every session here) or event logs. Matrix
  * reads its per-rep IO columns from it; `Probe time` prints it.
  *
  * Listener events are delivered asynchronously: drain the bus
  * (`bridge.drainListenerBus`) after an action before reading.
  */
final class TaskMetricsListener extends SparkListener {
  private val stageMap = scala.collection.mutable.LinkedHashMap.empty[Int, StageMetrics]
  private val jobMap = scala.collection.mutable.LinkedHashMap.empty[Int, JobMetrics]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobMap(e.jobId) = JobMetrics(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(j => jobMap(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ms = e.taskInfo.duration
    val timed = StageMetrics(e.stageId, tasks = 1, taskMs = ms, maxTaskMs = ms)
    // a failed task may carry no metrics
    val task = Option(e.taskMetrics).fold(timed) { m =>
      timed.copy(
        inputRecords = m.inputMetrics.recordsRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = m.memoryBytesSpilled,
        diskSpillBytes = m.diskBytesSpilled)
    }
    stageMap(e.stageId) = stageMap.get(e.stageId).fold(task)(_ + task)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stageMap.getOrElse(info.stageId, StageMetrics(info.stageId))
    val wall = for (a <- info.submissionTime; b <- info.completionTime) yield b - a
    stageMap(info.stageId) = s.copy(name = info.name, wallMs = wall.getOrElse(-1L))
  }

  def reset(): Unit = synchronized { stageMap.clear(); jobMap.clear() }

  /** Stages in the order their first event arrived. */
  def stages: Seq[StageMetrics] = synchronized(stageMap.values.toList)

  /** Jobs in start order. */
  def jobs: Seq[JobMetrics] = synchronized(jobMap.values.toList)

  /** All stages summed. */
  def totals: StageMetrics = stages.foldLeft(StageMetrics(-1, "total"))(_ + _)
}
