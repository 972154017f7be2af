package perfbench

import graft.gen.Q4112Gen
import graft.model.{GenConfig, Item, Order}
import graft.ops.Q4112

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Outcome of one pass: whether its output matched the oracle, and the
  * time spent in the planner call.
  */
final case class PassResult(ok: Boolean, error: Option[String], planNs: Long = 0L)

object Timing {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** The q4112 query on generated relations. `part = 1` is the ungrouped
  * join + AVG (`Q4112.part1Adaptive`); `part = 2` the grouped two-level
  * AVG (`Q4112.part2Adaptive`). Every pass is compared with the
  * generator's independent oracle.
  */
final class Q4112Workload(part: Int, cfg: GenConfig, warmCfg: GenConfig) {
  private var items: Dataset[Item] = _
  private var orders: Dataset[Order] = _
  private var active: GenConfig = cfg
  private var expected: Option[Long] = None

  /** The planner's last decision, recorded as a field of the run record. */
  def decision: String = Q4112.lastChosenPlan

  private def load(spark: SparkSession, c: GenConfig, tracer: Tracer): Long = {
    active = c
    items = tracer.span("gen.items")(Q4112Gen.items(spark, c).cache())
    orders = tracer.span("gen.orders")(Q4112Gen.orders(spark, c).cache())
    tracer.span("gen.cache")(items.count() + orders.count())
  }

  /** Generate and cache the relations; returns the rows ingested. */
  def ingest(spark: SparkSession, tracer: Tracer): Long = load(spark, cfg, tracer)

  /** The expected answer, computed once outside every timed section. */
  def prepareOracle(): Unit =
    expected =
      if (part == 1) Q4112Gen.oraclePart1Rdd(orders, active)
      else Q4112Gen.oracleFullCas(orders, active)

  private def plan() =
    if (part == 1)
      Q4112.part1Adaptive(items.toDF(), orders.toDF(), "id", "itemId", "price", "quantity")
    else
      Q4112.part2Adaptive(items.toDF(), orders.toDF(), "id", "itemId", "price", "quantity",
        "storeId")

  def pass(tracer: Tracer): PassResult = {
    val t0 = System.nanoTime()
    val df = tracer.span("q4112.plan")(plan())
    val planNs = System.nanoTime() - t0
    val rows = tracer.span("q4112.execute")(df.collect())
    val got = if (rows.length != 1 || rows(0).isNullAt(0)) None else Some(rows(0).getLong(0))
    val ok = rows.length == 1 && got == expected
    PassResult(ok, if (ok) None else Some(s"got $got, oracle $expected"), planNs)
  }

  def release(): Unit = {
    Seq(items, orders).filter(_ != null).foreach(_.unpersist(blocking = true))
    items = null
    orders = null
  }

  /** The ladder and the dense build, on the cached relations:
    * scan (cached sum/count), part-1 dense probe, part-2 dense group-by.
    * The probe and group-by steps are reported as differences, so each
    * step's figure is the cost that layer adds on top of the one below.
    */
  def layerProbes(tracer: Tracer): Map[String, Double] = {
    def med(name: String)(body: => Any): Double =
      Timing.median((1 to 3).map(_ => Timing.secs(tracer.span(name)(body))._2))
    val i = items.toDF()
    val o = orders.toDF()
    val scan = med("ladder.scan")(o.agg(sum(col("quantity")), count(lit(1))).collect())
    val probe = med("ladder.part1Dense")(
      Q4112.part1Dense(i, o, "id", "itemId", "price", "quantity").collect())
    val groupby = med("ladder.part2Dense")(
      Q4112.part2Dense(i, o, "id", "itemId", "price", "quantity", "storeId").collect())
    val build = med("q4112.denseValuesArray") {
      Q4112.clearRelationCaches()
      Q4112.denseValuesArray(i, "id", "price")
    }
    Map("ladder.scan_s" -> scan, "ladder.probe_s" -> (probe - scan),
      "ladder.groupby_s" -> (groupby - probe), "q4112.dense_build_s" -> build)
  }

  /** Run the workload on its smaller warm-up input, untimed: JIT, code
    * caches and class loading.
    */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    load(spark, warmCfg, tracer)
    prepareOracle()
    (1 to 2).foreach { _ =>
      Q4112.clearRelationCaches()
      require(pass(tracer).ok, "warm-up pass disagrees with the oracle")
    }
    if (tracer.on) layerProbes(tracer)
    release()
    Q4112.clearRelationCaches()
  }
}
