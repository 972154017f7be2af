package graft

import graft.gen.Q4112Gen
import graft.model.GenConfig
import graft.ops.{LayoutRegistry, Q4112}
import graft.sources.Tables

import org.apache.spark.sql.functions.{broadcast, col}

/** The layout ROUTER (round-8 verdict item 1): the user queries the raw
  * relations; the planner discovers a registered exchange-free layout
  * by canonicalized-plan identity and routes to it. Pins (a) routing
  * fires across SEPARATE DataFrame instances of the same plan, (b) the
  * routed answers are bit-identical to the unrouted ones, (c) the
  * joined-bucketed layout outranks the bucketed copy, (d) registration
  * validates the layout actually clusters and has the source's columns,
  * (e) the registry dies with `clearRelationCaches` (the table-version
  * boundary), and (f) a cached, materialized layout routes as the bare
  * table does.
  */
class LayoutRegistrySpec extends SparkSpec {

  private val cfg = GenConfig(1000, 1.0, 999, 20000, 1.0, 999, 50, 0, 0.0, seed = 43)
  private def itemsDf = Q4112Gen.items(spark, cfg).toDF()
  private def ordersDf = Q4112Gen.orders(spark, cfg).toDF()

  test("part2Adaptive routes raw relations to registered layouts; joined outranks bucketed") {
    Q4112.clearRelationCaches()
    try {
      val expected = Q4112.part2(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId").collect().head.getLong(0)

      Tables.writeBucketed(ordersDf, "lrspec_orders_bkt", 8, "storeId")
      // registered with ONE DataFrame instance, routed from ANOTHER —
      // plan-identity (canonicalized) equality is what routing keys on
      LayoutRegistry.registerBucketed(ordersDf, "storeId", spark.table("lrspec_orders_bkt"))
      val r1 = Q4112.part2Adaptive(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId")
      assert(r1.collect().head.getLong(0) === expected)
      assert(Q4112.lastChosenPlan === "bucketed_routed")
      assert(!r1.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "routed bucketed plan must not re-shuffle on the group key")

      // the layout as Matrix registers it: cached and materialized
      // first; the cached plan keeps the scan's bucketing
      val cached = spark.table("lrspec_orders_bkt").cache()
      cached.count()
      LayoutRegistry.registerBucketed(ordersDf, "storeId", cached)
      val r1c = Q4112.part2Adaptive(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId")
      assert(r1c.collect().head.getLong(0) === expected)
      assert(Q4112.lastChosenPlan === "bucketed_routed")
      val plan1c = r1c.queryExecution.executedPlan.toString
      assert(!plan1c.contains("Exchange hashpartitioning"),
        s"routed cached bucketed plan must not re-shuffle on the group key:\n$plan1c")
      cached.unpersist(blocking = true)

      // the joined (group, v) materialization wins over the bucketed copy
      Tables.writeBucketed(ordersDf.join(broadcast(itemsDf), col("itemId") === col("id"))
          .select(col("storeId"), (col("price") * col("quantity")).as("v")),
        "lrspec_joined_bkt", 8, "storeId")
      LayoutRegistry.registerJoined(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId", spark.table("lrspec_joined_bkt"))
      val r2 = Q4112.part2Adaptive(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId")
      assert(r2.collect().head.getLong(0) === expected)
      assert(Q4112.lastChosenPlan === "joined_bucketed")
      val plan2 = r2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange hashpartitioning"),
        s"routed joined plan must be exchange-free up to the final collapse:\n$plan2")
      assert(!"(?i)(hashjoin|sortmergejoin|nestedloopjoin)".r
          .findFirstIn(plan2).isDefined,
        s"routed joined plan must contain no join operator:\n$plan2")

      // the registry dies at the table-version boundary
      Q4112.clearRelationCaches()
      Q4112.part2Adaptive(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId").collect()
      assert(Q4112.lastChosenPlan !== "joined_bucketed")
      assert(Q4112.lastChosenPlan !== "bucketed_routed")
    } finally {
      LayoutRegistry.clear()
      for (t <- Seq("lrspec_orders_bkt", "lrspec_joined_bkt"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      Q4112.clearRelationCaches()
    }
  }

  test("registration validates the layout: non-clustered scans and wrong schemas are rejected") {
    // a plain (non-bucketed) relation is not a routable layout
    intercept[IllegalArgumentException] {
      LayoutRegistry.registerBucketed(ordersDf, "storeId", ordersDf)
    }
    intercept[IllegalArgumentException] {
      LayoutRegistry.registerJoined(itemsDf, ordersDf,
        "id", "itemId", "price", "quantity", "storeId", ordersDf)
    }
    val bad = Seq("lrspec_bad_jb", "lrspec_bad_cols", "lrspec_bad_types")
    try {
      // clustered on the right key but missing the 'v' column
      Tables.writeBucketed(ordersDf.select(col("storeId"), col("quantity").as("not_v")),
        "lrspec_bad_jb", 8, "storeId")
      intercept[IllegalArgumentException] {
        LayoutRegistry.registerJoined(itemsDf, ordersDf,
          "id", "itemId", "price", "quantity", "storeId", spark.table("lrspec_bad_jb"))
      }
      // a bucketed copy clustered on the right key but missing
      // 'quantity', or holding it at another type, is not the source
      Tables.writeBucketed(ordersDf.drop("quantity"), "lrspec_bad_cols", 8, "storeId")
      val e = intercept[IllegalArgumentException] {
        LayoutRegistry.registerBucketed(ordersDf, "storeId", spark.table("lrspec_bad_cols"))
      }
      assert(e.getMessage.contains("source's columns"), e.getMessage)
      Tables.writeBucketed(ordersDf.withColumn("quantity", col("quantity").cast("int")),
        "lrspec_bad_types", 8, "storeId")
      intercept[IllegalArgumentException] {
        LayoutRegistry.registerBucketed(ordersDf, "storeId", spark.table("lrspec_bad_types"))
      }
    } finally {
      bad.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      LayoutRegistry.clear()
    }
  }
}
