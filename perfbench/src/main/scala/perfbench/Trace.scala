package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a call into a layer, a Spark job or a stage.
  * Times are nanoseconds since the tracer started; `pass` is the pass
  * the span belongs to (-1 outside passes) and `parent` the id of the
  * span that caused it (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, end: Long)

/** In-memory span recorder. While `on` is false every call runs its body
  * and records nothing, so untraced passes pay no tracing cost.
  */
final class Tracer(@volatile var on: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  @volatile var pass: Int = -1

  def now(): Long = System.nanoTime() - baseNano

  /** Epoch milliseconds (Spark event times) on the tracer's clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - baseEpochNs

  def newId(): Int = synchronized { nextId += 1; nextId }

  private def currentId: Int = synchronized { open.headOption.getOrElse(-1) }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Time `body` as a child of the innermost open span; `id` lets a
    * caller hand out the span's id before it starts.
    */
  def span[T](name: String, id: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val sid = if (id < 0) newId() else id
      val parent = currentId
      val p = pass
      synchronized(open.push(sid))
      val t0 = now()
      try body
      finally {
        val t1 = now()
        synchronized { open.pop(); spans += Span(sid, name, parent, p, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def clear(): Unit = synchronized(spans.clear())
}

/** Per-pass Spark runtime counters, summed over every task that ran
  * in the pass.
  */
final class PassCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var catalystNs = 0L
  /** (start, end) of every stage, tracer clock */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark listener attributing jobs, stages and tasks to benchmark
  * passes. A pass sets the job group `perfbench-pass-<n>`; each job
  * becomes a child span of that pass's span and each stage a child of
  * its job.
  */
final class SparkTelemetry(tracer: Tracer, passSpan: Int => Int) extends SparkListener {
  private val counters = mutable.Map.empty[Int, PassCounters]
  private val jobPass = mutable.Map.empty[Int, (Int, Int, Long)] // job -> (pass, span id, start)
  private val stageJob = mutable.Map.empty[Int, Int]

  def of(pass: Int): PassCounters = synchronized(counters.getOrElseUpdate(pass, new PassCounters))

  private def passOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-pass-"))
      .map(_.stripPrefix("perfbench-pass-").toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = passOf(e.properties)
    jobPass(e.jobId) = (p, tracer.newId(), tracer.fromEpochMs(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    of(p).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPass.remove(e.jobId).foreach { case (p, id, t0) =>
      tracer.add(Span(id, "spark.job", passSpan(p), p, t0, tracer.fromEpochMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    val (p, jobSpan) = jobPass.get(job).map(j => (j._1, j._2)).getOrElse((-1, -1))
    val c = of(p)
    c.stages += 1
    for (s <- info.submissionTime; f <- info.completionTime) {
      val iv = (tracer.fromEpochMs(s), tracer.fromEpochMs(f))
      c.stageIntervals += iv
      tracer.add(Span(tracer.newId(), "spark.stage", jobSpan, p, iv._1, iv._2))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.getOrElse(e.stageId, -1)
    val c = of(jobPass.get(job).map(_._1).getOrElse(-1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }

  /** Catalyst phase time (parsing, analysis, optimization, planning) of
    * every query execution that finished, charged to the pass running
    * when the benchmark drained the bus.
    */
  val catalyst: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkTelemetry.this.synchronized {
        of(tracer.pass).catalystNs +=
          qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** Samples the block manager's in-memory bytes and the execution memory
  * granted to tasks every few milliseconds and keeps the peaks since the
  * last `reset()`.
  */
final class MemorySampler extends Thread("perfbench-memory-sampler") {
  setDaemon(true)
  @volatile private var running = true
  private val storagePeak = new AtomicLong
  private val execPeak = new AtomicLong

  override def run(): Unit =
    while (running) {
      try {
        storagePeak.accumulateAndGet(PerfbenchAccess.storageMemoryUsed, math.max)
        execPeak.accumulateAndGet(PerfbenchAccess.executionMemoryUsed, math.max)
      } catch { case _: NullPointerException => () } // between sessions
      Thread.sleep(10)
    }

  def reset(): Unit = {
    storagePeak.set(0L)
    execPeak.set(0L)
  }

  /** (peak storage bytes, peak execution bytes) since the last reset */
  def peaks(): (Long, Long) = (storagePeak.get, execPeak.get)

  def shutdown(): Unit = { running = false; join() }
}
