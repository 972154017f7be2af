package graft

import graft.ops.Q4112
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Build-once semantics for the planner's relation-keyed caches:
  * the dense-key broadcast, the min/max column statistics and the
  * fallback row count are properties of a TABLE VERSION, not of a
  * query — so a repeat of the same query over an unchanged relation
  * must reuse them (round-4
  * measurement: the per-query dense build alone was 17.9 s of cfg18's
  * 28.6 s), and `clearRelationCaches` must invalidate them when data
  * changes under an unchanged plan. Also pins the zero-job catalog
  * column-stats path (`minMaxLongs`) and the plan-time layout advice.
  */
class RelationCacheSpec extends SparkSpec {
  import spark.implicits._

  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    // listener events post asynchronously; give the bus time to drain
    // so a late job-start can't escape a zero-jobs assertion
    try { body; Thread.sleep(1500) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def freshItems() = spark.range(0, 1000)
    .select(col("id"), (col("id") % 97).as("price"))

  test("denseValuesArray builds once per relation and rebuilds after clear") {
    Q4112.clearRelationCaches()
    val items = freshItems()
    val (bc1, mn1) = Q4112.denseValuesArray(items, "id", "price")
    // a SEPARATE DataFrame over the same relation (same canonical plan)
    val (bc2, mn2) = Q4112.denseValuesArray(freshItems(), "id", "price")
    assert(bc1 eq bc2, "second call must return the cached broadcast")
    assert(mn1 === mn2)
    // but a different value column is a different index
    val items3 = spark.range(0, 1000)
      .select(col("id"), (col("id") % 97).as("price"), (col("id") % 7).as("weight"))
    val (bc3, _) = Q4112.denseValuesArray(items3, "id", "weight")
    assert(!(bc3 eq bc1))
    Q4112.clearRelationCaches()
    val (bc4, _) = Q4112.denseValuesArray(freshItems(), "id", "price")
    assert(!(bc4 eq bc1), "clear must drop the cached broadcast")
    Q4112.clearRelationCaches()
  }

  test("minMaxLongs reads ANALYZEd catalog column stats with zero jobs") {
    spark.sql("DROP TABLE IF EXISTS mm_stats_t")
    spark.range(0, 500).select(col("id"), (col("id") % 13).as("q"))
      .write.mode("overwrite").saveAsTable("mm_stats_t")
    spark.sql("ANALYZE TABLE mm_stats_t COMPUTE STATISTICS FOR COLUMNS id, q")
    val df = spark.table("mm_stats_t")
    var got: Seq[(Long, Long)] = Nil
    val jobs = countJobs { got = Q4112.minMaxLongs(df, Seq("id", "q")) }
    assert(got === Seq((0L, 499L), (0L, 12L)))
    assert(jobs === 0, s"catalog-stats path must run zero jobs, ran $jobs")
    spark.sql("DROP TABLE IF EXISTS mm_stats_t")
  }

  test("minMaxLongs scan fallback runs once per relation, then zero jobs") {
    Q4112.clearRelationCaches()
    val df = spark.range(0, 300).select(col("id"), (col("id") % 5).as("q"))
    val first = Q4112.minMaxLongs(df, Seq("id", "q"))
    assert(first === Seq((0L, 299L), (0L, 4L)))
    val jobs = countJobs {
      val again = Q4112.minMaxLongs(
        spark.range(0, 300).select(col("id"), (col("id") % 5).as("q")), Seq("id", "q"))
      assert(again === first)
    }
    assert(jobs === 0, s"repeat over an unchanged relation must be free, ran $jobs")
    Q4112.clearRelationCaches()
  }

  test("part2Adaptive plans a repeat query over an unchanged relation with zero jobs") {
    Q4112.clearRelationCaches()
    def items = spark.range(0, 100).select(col("id"), (col("id") % 97 + 1).as("price"))
    def orders = spark.range(0, 20000).select(
      (col("id") % 100).as("itemId"), (col("id") % 50).as("storeId"),
      (col("id") % 9 + 1).as("quantity"))
    val r1 = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId").head().getLong(0)
    // planning the SAME query again: row count, min/max and the dense
    // build are all cached — constructing the plan runs no jobs at all
    val jobs = countJobs {
      Q4112.part2Adaptive(items, orders, "id", "itemId", "price", "quantity", "storeId")
    }
    assert(jobs === 0, s"repeat planning must run zero jobs, ran $jobs")
    val r2 = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId").head().getLong(0)
    assert(r1 === r2)
    Q4112.clearRelationCaches()
  }

  test("q4112 forms read the planner's cached facts: building one adds no job of its own") {
    Q4112.clearRelationCaches()
    val items = spark.range(1, 501).select(col("id"), (col("id") * 7 % 1000).as("price")).cache()
    // singleton groups over ~1.3e7 slots: the planner proves the dense
    // build and the domain, and takes the combine-cache form
    val orders = spark.range(0, 200000, 1, 8).select((col("id") % 500 + 1).as("itemId"),
      (col("id") % 9).as("quantity"), (col("id") * 64).as("storeId")).cache()
    try {
      items.count(); orders.count()
      val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId", "price", "quantity",
        "storeId").head().getLong(0)
      assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
      val metrics = new TaskMetricsListener
      val sc = spark.sparkContext
      bridge.drainListenerBus(sc)
      sc.addSparkListener(metrics)
      def jobs(build: => org.apache.spark.sql.DataFrame): (Int, Long) = {
        metrics.reset()
        val df = build
        bridge.drainListenerBus(sc)
        val n = metrics.jobs.size
        (n, df.head().getLong(0))
      }
      try {
        assert(jobs(Q4112.part2DenseAgg(items, orders, "id", "itemId", "price", "quantity",
          "storeId")) === ((0, adaptive)))
      } finally sc.removeSparkListener(metrics)
    } finally {
      items.unpersist(blocking = true)
      orders.unpersist(blocking = true)
      Q4112.clearRelationCaches()
    }
  }

  test("adaptive planners surface the missed-layout hint at plan time") {
    Q4112.clearRelationCaches()
    val items = spark.range(0, 100).select(col("id"), (col("id") % 97 + 1).as("price"))
    // singleton groups over a domain WIDER than the dense cap (2^27):
    // the hash plan's exchange on the group key, so the layout hint
    // must fire
    val orders = spark.range(0, 5000).select(
      (col("id") % 100).as("itemId"),
      (col("id") * 1000000L).as("storeId"),
      (col("id") % 9 + 1).as("quantity"))
    Q4112.part2Adaptive(items, orders, "id", "itemId", "price", "quantity", "storeId")
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
    assert(Q4112.lastAdvice.contains("storeId"), s"got: ${Q4112.lastAdvice}")
    assert(Q4112.lastAdvice.contains("exchange-free"))
    // same shape with a NARROW domain: the dense partial aggregate,
    // whose per-task arrays still merge through an exchange on the group
    // key, so the hint fires too
    val narrow = spark.range(0, 5000).select(
      (col("id") % 100).as("itemId"), col("id").as("storeId"),
      (col("id") % 9 + 1).as("quantity"))
    Q4112.part2Adaptive(items, narrow, "id", "itemId", "price", "quantity", "storeId")
    assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
    assert(Q4112.lastAdvice.contains("storeId"), s"got: ${Q4112.lastAdvice}")
    // part 1, dense path over a build side of 1e7 rows, where the
    // driver-side build is material: advises the co-located layout for
    // the join keys
    val bigItems = spark.range(0, 10000000).select(col("id"), (col("id") % 97 + 1).as("price"))
    Q4112.part1Adaptive(bigItems, orders, "id", "itemId", "price", "quantity")
    assert(Q4112.lastChosenPlan === "dense", Q4112.lastChosenPlan)
    assert(Q4112.lastAdvice.contains("co-located"), s"got: ${Q4112.lastAdvice}")
    // a small broadcast build side is already the plan you'd want: no advice
    Q4112.part1Adaptive(items, orders, "id", "itemId", "price", "quantity")
    assert(Q4112.lastAdvice === "")
    Q4112.clearRelationCaches()
  }
}
