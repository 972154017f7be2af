package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** The merged task-metrics listener against a query whose stage shape is
  * fixed by construction: a 3-partition `range`, a user repartition into
  * 5 hash partitions (AQE never coalesces an explicit count), and an
  * aggregate on the same key (no further exchange).
  */
class TaskMetricsListenerSpec extends SparkSpec {

  /** The shuffle/spill sums Matrix's CSV columns have always carried,
    * taken straight from each task's TaskMetrics.
    */
  private final class RawIo extends SparkListener {
    var shuffleWrite, shuffleRead, memorySpill, diskSpill = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      memorySpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
    }
  }

  test("per-stage tasks, shuffle bytes and job wall time for a known stage shape") {
    val l = new TaskMetricsListener
    val raw = new RawIo
    val sc = spark.sparkContext
    bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.addSparkListener(raw)
    try {
      val rows = spark.range(0, 20000, 1, 3)
        .select((col("id") % 101).as("k"))
        .repartition(5, col("k"))
        .groupBy("k").count()
        .collect()
      assert(rows.length == 101)
      bridge.drainListenerBus(sc)

      val stages = l.stages
      assert(stages.map(_.tasks) == Seq(3, 5), stages.map(_.line).mkString("\n"))
      val Seq(map, reduce) = stages
      assert(map.shuffleWriteBytes > 0 && map.shuffleReadBytes == 0)
      assert(reduce.shuffleReadBytes > 0 && reduce.shuffleWriteBytes == 0)
      stages.foreach { s =>
        assert(s.name.nonEmpty && s.wallMs >= 0)
        assert(s.maxTaskMs <= s.taskMs)
      }
      val t = l.totals
      assert(t.tasks == 8)
      assert(t.shuffleWriteBytes == t.shuffleReadBytes && t.shuffleWriteBytes > 0)
      raw.synchronized {
        assert(t.shuffleWriteBytes == raw.shuffleWrite)
        assert(t.shuffleReadBytes == raw.shuffleRead)
        assert(t.memorySpillBytes == raw.memorySpill)
        assert(t.diskSpillBytes == raw.diskSpill)
      }
      assert(l.jobs.nonEmpty && l.jobs.forall(_.wallMs >= 0))

      l.reset()
      assert(l.stages.isEmpty && l.jobs.isEmpty)
      assert(l.totals == StageMetrics(-1, "total"))
    } finally {
      sc.removeSparkListener(l)
      sc.removeSparkListener(raw)
    }
  }
}
