package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM (Test/fork := true gives the
  * suite its own JVM; suites share the session to avoid per-suite
  * startup).
  */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(4)
}

/** Base for all specs: shared session + tiny helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** sf0.001 testdata dir (smallest; specs that read testdata use it). */
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  protected def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    // listener events post asynchronously; drain the bus so a late
    // job-start can't escape a job-count assertion
    try { body; bridge.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }
}
