package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, pmod, xxhash64}

/** Fixed-work probes that measure the host's effective throughput from
  * inside a session, shared by Bench and Matrix. Identical work every
  * run, so a loaded session (round-5's driver run recorded 9.3 s for a
  * 0.4 s query under external load) shows up as inflated probe times
  * instead of needing an idle-host reproduction after the fact.
  */
object Calibration {

  private def time(fn: => Unit): Double = {
    val t0 = System.nanoTime()
    fn
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU spin: 128M xxh64 mixes over 32 tasks plus one tiny shuffle.
    * About 1.7 s on a 4-core host.
    */
  def cpu(spark: SparkSession): Double = time {
    spark.range(0, 128L * 1024 * 1024, 1, 32)
      .select(xxhash64(col("id")).as("h"))
      .select(pmod(col("h"), lit(97)).as("b"))
      .groupBy("b").count()
      .write.format("noop").mode("overwrite").save()
  }

  /** Shuffle round-trip: 64M longs hashed into 64 partitions and
    * re-counted, ~1 GB of UnsafeRows through the local shuffle path (disk
    * write, fetch, page cache). It sees the disk and page-cache debt the
    * CPU spin is blind to (Matrix cfg18's 139 → 183 s rep drift read a
    * clean CPU probe, SCALING.md round-8 reading 4). 8-11 s on a 4-core,
    * 15 GB host; about 1-2 s on the 32-core host of the older rounds.
    */
  def shuffle(spark: SparkSession): Double = time {
    spark.range(0, 64L * 1024 * 1024, 1, 32)
      .repartition(64, col("id"))
      .agg(count(lit(1)))
      .write.format("noop").mode("overwrite").save()
  }

  /** Drains external load and writeback until the shuffle probe returns
    * to its idle band, waiting at most `maxWaitSec`. Measurement hygiene
    * only: the probe columns still record whatever state the run was in.
    */
  def settleUntilQuiet(spark: SparkSession, idleShuffle: Double, tag: String,
      maxWaitSec: Int = 120): Unit = {
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var p = shuffle(spark)
    while (p > math.max(2.0 * idleShuffle, idleShuffle + 1.0) &&
        System.nanoTime() < deadline) {
      sync()
      Thread.sleep(5000)
      p = shuffle(spark)
    }
    System.err.println(f"[$tag] settle: shuffle probe $p%.3f s (idle $idleShuffle%.3f s)")
  }

  /** Best-effort `sync`, so dirty pages a probe left behind are flushed
    * before the measurement it annotates starts.
    */
  def sync(): Unit =
    try new ProcessBuilder("sync").start().waitFor()
    catch { case scala.util.control.NonFatal(_) => () }
}
