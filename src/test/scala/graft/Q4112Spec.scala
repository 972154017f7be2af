package graft

import graft.gen.Q4112Gen
import graft.model.GenConfig
import graft.ops.Q4112

/** Differential tests of the q4112 query vs the collections oracle —
  * the Spark port of the reference's `assert(gen_res == run_res)`
  * (q4112_main.c:127), across a scaled-down mirror of the reference's
  * part-1 and part-2 config matrices (BASELINE.md), including the
  * heavy-hitter skew configs.
  */
class Q4112Spec extends SparkSpec {
  import Q4112._

  private def itemsDf(cfg: GenConfig) = Q4112Gen.items(spark, cfg).toDF()
  private def ordersDf(cfg: GenConfig) = Q4112Gen.orders(spark, cfg).toDF()

  /** Scaled-down reference matrix: outer shrunk 1e9 → 5e3, inner
    * proportionally; selectivities / groups / hh shape preserved.
    */
  private val part1Configs = Seq(
    GenConfig(100, 1.0, 999, 5000, 0.5, 999, 0, 0, 0.0, seed = 11),
    GenConfig(100, 1.0, 999, 5000, 1.0, 999, 0, 0, 0.0, seed = 12),
    GenConfig(1000, 0.5, 999, 5000, 0.5, 999, 0, 0, 0.0, seed = 13),
    GenConfig(1000, 1.0, 999, 5000, 1.0, 999, 0, 0, 0.0, seed = 14))

  private val part2Configs = Seq(
    GenConfig(100, 1.0, 999, 5000, 1.0, 999, 10, 0, 0.0, seed = 21),
    GenConfig(100, 1.0, 999, 5000, 1.0, 999, 100, 0, 0.0, seed = 22),
    GenConfig(1000, 1.0, 999, 5000, 1.0, 999, 100, 5, 0.5, seed = 23),
    GenConfig(1000, 1.0, 999, 5000, 1.0, 999, 100, 5, 1.0, seed = 24),
    GenConfig(1000, 0.5, 999, 5000, 0.5, 999, 500, 10, 0.9, seed = 25))

  for ((cfg, i) <- part1Configs.zipWithIndex; strategy <- Seq(BroadcastHash, ShuffledHash, SortMerge)) {
    test(s"part1 cfg$i matches oracle under $strategy") {
      val items = Q4112Gen.items(spark, cfg).collect().toSeq
      val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
      val expected = Q4112Gen.oraclePart1(items, orders)
      val got = part1(itemsDf(cfg), ordersDf(cfg), "id", "itemId", "price", "quantity", strategy)
        .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(got === expected)
    }
  }

  for ((cfg, i) <- part2Configs.zipWithIndex) {
    test(s"part2 cfg$i matches oracle (incl. per-group intermediate)") {
      val items = Q4112Gen.items(spark, cfg).collect().toSeq
      val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
      val expected = Q4112Gen.oracleFull(items, orders)
      val got = part2(itemsDf(cfg), ordersDf(cfg), "id", "itemId", "price", "quantity", "storeId")
        .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(got === expected)

      // per-group intermediate vs a collections group-by
      val price = items.map(it => it.id -> it.price).toMap
      val byGroup = orders
        .flatMap(o => price.get(o.itemId).map(p => o.storeId -> (p * o.quantity)))
        .groupBy(_._1)
        .map { case (g, xs) => g -> xs.map(_._2).sum / xs.size }
      val gotGroups = grouped(itemsDf(cfg), ordersDf(cfg), "id", "itemId", "price", "quantity", "storeId")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotGroups === byGroup)
    }
  }

  test("generator honours the contract: unique non-zero ids, value caps, group floor") {
    val cfg = GenConfig(500, 1.0, 99, 4000, 0.8, 9, 50, 5, 0.7, seed = 31)
    val items = Q4112Gen.items(spark, cfg).collect().toSeq
    assert(items.map(_.id).distinct.size === 500)
    assert(items.forall(i => i.id >= 1 && i.id <= 500))
    assert(items.forall(i => i.price >= 0 && i.price <= 99))
    val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
    assert(orders.forall(o => o.quantity >= 0 && o.quantity <= 9))
    assert(orders.forall(o => o.storeId >= 1 && o.storeId <= 50))
    // every group appears at least once (q4112.h:38-39)
    assert(orders.map(_.storeId).distinct.size === 50)
    // matching share ≈ outerSelectivity
    val matching = orders.count(_.itemId <= 500).toDouble / orders.size
    assert(matching > 0.7 && matching < 0.9, s"matching share $matching")
  }

  test("heavy hitters absorb ~hhProbability of rows") {
    val cfg = GenConfig(100, 1.0, 99, 10000, 1.0, 99, 1000, 10, 0.9, seed = 32)
    val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
    val hhShare = orders.count(_.storeId <= 10).toDouble / orders.size
    assert(hhShare > 0.8 && hhShare < 0.98, s"hh share $hhShare")
  }

  test("dense-key array probe equals the hash-join plan (part1 and part2)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.{col, lit, when}
    val spark2 = spark
    import spark2.implicits._
    val cfg = GenConfig(500, 0.8, 999, 20000, 0.7, 999, 40, 4, 0.5, seed = 11)
    val items = Q4112Gen.items(spark, cfg).toDF()
    val gen = Q4112Gen.orders(spark, cfg).toDF()
    def result(df: DataFrame): Option[Long] =
      df.collect().toSeq match {
        case Seq(r) => if (r.isNullAt(0)) None else Some(r.getLong(0))
        case rows => fail(s"expected one row, got ${rows.size}")
      }
    // the names of the dense probe RDDs behind a frame's kernel rows
    def probeSources(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.toDebugString }
        .flatMap(s => "dense probe over (\\w+)".r.findAllMatchIn(s).map(_.group(1)))
    // a non-contiguous key domain: every form that works out its front
    // half from the relation takes the hash join instead of the probe
    val gappy = items.where(col("id") % 7 =!= 0)
    // every part-2 form against the broadcast-hash plan, over the dense
    // and the gappy build side
    def checkPart2(what: String, orders: DataFrame): Unit =
      for (it <- Seq(items, gappy)) {
        val hash2 = result(part2(it, orders, "id", "itemId", "price", "quantity", "storeId",
          BroadcastHash))
        val on = s"$what, ${if (it eq items) "dense" else "gappy"} items"
        if (it eq items)
          assert(result(part2Dense(it, orders, "id", "itemId", "price", "quantity",
            "storeId")) === hash2, on)
        val p2 = part2DenseAgg(it, orders, "id", "itemId", "price", "quantity", "storeId")
        assert(result(p2) === hash2, on)
        if (!(it eq items)) assert(probeSources(p2).isEmpty, on)
        assert(result(part2Adaptive(it, orders, "id", "itemId", "price", "quantity",
          "storeId")) === hash2, on)
      }
    // every form against the hash plans; returns the kernel's batch source
    def check(what: String, orders: DataFrame): String = {
      val p1 = part1Dense(items, orders, "id", "itemId", "price", "quantity")
      assert(result(p1) === result(part1(items, orders, "id", "itemId", "price", "quantity",
        BroadcastHash)), what)
      checkPart2(what, orders)
      val p2 = part2DenseAgg(items, orders, "id", "itemId", "price", "quantity", "storeId")
      val sources = (probeSources(p1) ++ probeSources(p2)).distinct
      assert(sources.size === 1, s"$what: $sources")
      sources.head
    }
    // an uncached generator plan is executed as rows and copied into batches
    assert(check("generator", gen) === "rows")
    // a cached relation hands the kernel the scan's own batches
    val cached = gen.cache()
    try assert(check("cached", cached) === "columnar")
    finally cached.unpersist(blocking = true)
    // a vectorized parquet scan does too
    val dir = java.nio.file.Files.createTempDirectory("dense_probe_pq").toString
    gen.write.mode("overwrite").parquet(dir)
    assert(check("parquet", spark.read.parquet(dir)) === "columnar")
    // int-stored keys, quantities and groups are read as ints
    val narrow = gen.select((col("itemId") % 100000).cast("int").as("itemId"),
      col("quantity").cast("int").as("quantity"), col("storeId").cast("int").as("storeId"))
      .cache()
    try assert(check("int-stored", narrow) === "columnar")
    finally narrow.unpersist(blocking = true)
    // keys below and above the domain, NULL keys, quantities and groups
    val holes = gen.select(
      when(col("quantity") % 5 === 0, lit(null)).when(col("quantity") % 5 === 1, -col("itemId"))
        .otherwise(col("itemId")).as("itemId"),
      when(col("quantity") % 7 === 0, lit(null)).otherwise(col("quantity")).as("quantity"),
      when(col("quantity") % 11 === 0, lit(null)).otherwise(col("storeId")).as("storeId"))
    check("nullable", holes)
    val holesCached = holes.cache()
    try assert(check("nullable cached", holesCached) === "columnar")
    finally holesCached.unpersist(blocking = true)
    // every quantity NULL: no product, so every form answers NULL
    val noQty = gen.withColumn("quantity", lit(null).cast("long"))
    check("all-NULL quantity", noQty)
    assert(result(part1Dense(items, noQty, "id", "itemId", "price", "quantity")) === None)
    // empty partitions, and a relation that plans no partition at all
    check("empty", gen.where(col("itemId") < 0))
    val none = Seq.empty[(Long, Long, Long)].toDF("itemId", "storeId", "quantity").where(lit(false))
    assert(none.queryExecution.toRdd.getNumPartitions === 0)
    check("zero partitions", none)
  }

  for ((cfg, i) <- part2Configs.zipWithIndex) {
    test(s"part2 bypass/adaptive plans match oracle on cfg$i") {
      val items = Q4112Gen.items(spark, cfg).collect().toSeq
      val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
      val expected = Q4112Gen.oracleFull(items, orders)
      def result(df: org.apache.spark.sql.DataFrame) =
        df.collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(result(part2Adaptive(itemsDf(cfg), ordersDf(cfg),
        "id", "itemId", "price", "quantity", "storeId")) === expected)
    }
  }

  test("dense-array partial aggregate equals the hash partial plan exactly") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, when}
    val spark2 = spark
    import spark2.implicits._
    val items = (1L to 500L).map(i => (i, (i * 7) % 1000)).toDF("id", "price")
    def result(df: DataFrame): Option[Long] =
      df.collect().toSeq match {
        case Seq(r) => if (r.isNullAt(0)) None else Some(r.getLong(0))
        case rows => fail(s"expected one row, got ${rows.size}")
      }
    // the form takes its domain from the group column's min/max
    def check(orders: DataFrame): Option[Long] = {
      val viaHash = result(Q4112.part2(items, orders, "id", "itemId", "price",
        "quantity", "storeId", Q4112.BroadcastHash))
      val viaDense = result(Q4112.part2DenseAgg(items, orders, "id", "itemId", "price",
        "quantity", "storeId"))
      assert(viaDense === viaHash, Q4112.minMaxLongsOpt(orders, Seq("storeId")))
      viaHash
    }
    val orders = spark.range(0L, 100000L, 1L, 8)
      .select((col("id") % 500L + 1L).as("itemId"),
        (col("id") % 9L).as("quantity"),
        (col("id") % 37L + 100L).as("storeId")) // domain [100, 136]
    val viaHash = check(orders)
    // the adaptive chooser routes this bounded-domain shape to the dense form
    val adaptive = result(Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId"))
    assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
    assert(adaptive === viaHash)
    // a domain above one reducer's 2^16 slots: the session's 4 shuffle
    // partitions give 4 reducer ranges, every task dense in each. Groups
    // hold 2 or 3 rows and only 3-row groups carry a large v, so adding
    // slots of different ranges together would change the result
    assert(spark.sessionState.conf.numShufflePartitions >= 2)
    check(spark.range(0L, 500000L, 1L, 3)
      .select((col("id") % 500L + 1L).as("itemId"),
        when(col("id") >= 400000L, 1000L).otherwise(col("id") % 9L).as("quantity"),
        (col("id") * 7919L % 200000L + 5L).as("storeId")))
    // sparse occupancy: 3000 rows over 8 tasks in ~94000 slots ship as
    // (slot, sum, count) triples; groups hold 1 or 2 rows
    check(spark.range(0L, 3000L, 1L, 8)
      .select((col("id") % 500L + 1L).as("itemId"), (col("id") % 9L).as("quantity"),
        (col("id") % 2000L * 47L + 1L).as("storeId")))
    // a domain wider than 2^22 slots: 10 hot groups, a singleton tail
    // over ~6e6 slots, a NULL group and a NULL v. The dense build side
    // takes the combine cache (range_dense); the gappy one, which the
    // cache cannot probe, takes the hash plan
    val wide = spark.range(0L, 200000L, 1L, 4)
      .select((col("id") % 500L + 1L).as("itemId"),
        when(col("id") === 7L, lit(null)).otherwise(col("id") % 9L).as("quantity"),
        when(col("id") === 11L, lit(null)).when(col("id") % 2L === 0L, col("id") % 20L)
          .otherwise(col("id") * 31L % 6000000L).as("storeId"))
    val wideHash = check(wide)
    assert(Q4112.minMaxLongs(wide, Seq("storeId")).head._2 >= Q4112.DenseAggMaxDomain)
    assert(result(Q4112.part2Adaptive(items, wide, "id", "itemId", "price", "quantity",
      "storeId")) === wideHash)
    assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
    val gappy = items.where(col("id") % 7L =!= 0L)
    assert(result(Q4112.part2Adaptive(gappy, wide, "id", "itemId", "price", "quantity",
      "storeId")) === result(Q4112.part2(gappy, wide, "id", "itemId", "price", "quantity",
      "storeId", Q4112.BroadcastHash)))
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
    // the join drops every row: no group, NULL result
    assert(check(orders.withColumn("itemId", col("itemId") + 1000L)) === None)
    // a provably-empty relation plans zero partitions
    val empty = Seq.empty[(Long, Long, Long)].toDF("itemId", "quantity", "storeId")
      .where(lit(false))
    assert(empty.join(items, col("itemId") === col("id"))
      .queryExecution.toRdd.getNumPartitions === 0)
    assert(check(empty) === None)
  }

  test("dense-array partial aggregate raises on a cross-task sum overflow, like the hash plan") {
    import org.apache.spark.sql.functions.{col, lit}
    val spark2 = spark
    import spark2.implicits._
    val items = Seq((1L, 1L)).toDF("id", "price")
    // a gap in the keys: the forms take the hash join front half
    val gappy = Seq((1L, 1L), (3L, 1L)).toDF("id", "price")
    // one row per task with v = 2^62: each task's sum fits a long, the
    // merged sum 2^63 does not
    val orders = spark.range(0L, 2L, 1L, 2)
      .select(lit(1L).as("itemId"), lit(1L << 62).as("quantity"), (col("id") * 0L).as("storeId"))
    // both rows in ONE task: the in-task sum must raise too, on the row
    // path, on the probe kernel and in the combine cache
    val oneTask = orders.coalesce(1)
    // one more row in group 2^23 widens the domain past the per-task
    // arrays: the dense build side then takes the combine cache
    def wide(o: org.apache.spark.sql.DataFrame) = o.union(spark.range(1L)
      .select(lit(1L).as("itemId"), lit(1L).as("quantity"), lit(1L << 23).as("storeId")))
    def overflows(df: => org.apache.spark.sql.DataFrame): Boolean = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow"))
    }
    for (o <- Seq(orders, oneTask)) {
      assert(overflows(Q4112.part2(items, o, "id", "itemId", "price", "quantity",
        "storeId", Q4112.BroadcastHash)))
      for (it <- Seq(items, gappy))
        assert(overflows(Q4112.part2DenseAgg(it, o, "id", "itemId", "price", "quantity",
          "storeId")))
      assert(overflows(Q4112.part2DenseAgg(items, wide(o), "id", "itemId", "price", "quantity",
        "storeId")))
    }
    assert(overflows(Q4112.part1Dense(items, oneTask, "id", "itemId", "price", "quantity")))
    // with ANSI off every plan wraps, and the dense forms wrap the same way
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      def one(df: org.apache.spark.sql.DataFrame) = df.collect().head.getLong(0)
      for (o <- Seq(orders, oneTask)) {
        val hash2 = one(Q4112.part2(items, o, "id", "itemId", "price", "quantity", "storeId",
          Q4112.BroadcastHash))
        for (it <- Seq(items, gappy))
          assert(one(Q4112.part2DenseAgg(it, o, "id", "itemId", "price", "quantity",
            "storeId")) === hash2)
        assert(one(Q4112.part2DenseAgg(items, wide(o), "id", "itemId", "price", "quantity",
          "storeId")) === one(Q4112.part2(items, wide(o), "id", "itemId", "price", "quantity",
          "storeId", Q4112.BroadcastHash)))
        assert(one(Q4112.part1Dense(items, o, "id", "itemId", "price", "quantity")) ===
          one(Q4112.part1(items, o, "id", "itemId", "price", "quantity", Q4112.BroadcastHash)))
      }
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("dense-array partial aggregate reproduces hash-plan NULL semantics exactly") {
    // NULL group is its own group; count(lit(1)) counts every row; a
    // group whose every v is NULL contributes a NULL per-group avg that
    // the outer sum skips but the outer count still counts (advice r9 #2)
    val spark2 = spark
    import spark2.implicits._
    val orders = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 100L),
      (1L, null, 100L),  // NULL v inside a live group
      (2L, 3L, 101L),
      (2L, null, 102L),  // group 102: ALL v NULL -> NULL per-group avg
      (1L, 4L, null),    // NULL group
      (2L, null, null)   // NULL group, NULL v
    ).toDF("itemId", "quantity", "storeId")
    assert(orders.schema.forall(_.nullable), "test requires nullable inputs")
    val items = Seq((1L, 10L), (2L, 20L)).toDF("id", "price")
    // an unused key past a gap: the same join, through the hash front half
    val gappy = Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("id", "price")
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0)
    // expected by hand: avgs {100->10, 101->60, 102->NULL, NULL->20};
    // sum(10,60,20)=90 over count 4 -> 90 div 4 = 22
    assert(viaHash.getLong(0) === 22L)
    for (it <- Seq(items, gappy)) {
      val viaDense = Q4112.part2DenseAgg(it, orders, "id", "itemId", "price",
        "quantity", "storeId").collect()(0)
      assert(viaDense.getLong(0) === viaHash.getLong(0))
    }
  }

  test("shared-CAS-table aggregate equals the hash plan; the router picks it on singleton groups; re-execution is fresh") {
    // the singleton flood past the per-task arrays: every row evicts from
    // the combine cache and ships to its range's reducer. The shuffle is
    // stateless, so a second execution of the same frame recomputes it
    import org.apache.spark.sql.functions.col
    val items = spark.range(1L, 501L)
      .select(col("id"), (col("id") * 7L % 1000L).as("price"))
    val orders = spark.range(0L, 200000L, 1L, 8)
      .select((col("id") % 500L + 1L).as("itemId"),
        (col("id") % 9L).as("quantity"),
        (col("id") * 64L).as("storeId")) // every group a singleton, ~1.3e7 slots
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val direct = Q4112.part2DenseAgg(items, orders, "id", "itemId", "price",
      "quantity", "storeId")
    assert(direct.collect()(0).getLong(0) === viaHash)
    assert(direct.collect()(0).getLong(0) === viaHash)
    val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId")
    assert(adaptive.collect()(0).getLong(0) === viaHash)
    assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
  }

  test("the 2^22..2^27 domain band with heavy hitters routes to the shared table") {
    import org.apache.spark.sql.functions.{col, when}
    val items = spark.range(1L, 101L)
      .select(col("id"), (col("id") % 97L).as("price"))
    // half the mass in 50 hot groups, which the combine cache collapses,
    // the other half a singleton tail over a ~6e6-wide domain: too wide
    // for the per-task dense arrays, inside the range form's cap
    val orders = spark.range(0L, 300000L, 1L, 8)
      .select((col("id") % 100L + 1L).as("itemId"),
        (col("id") % 7L).as("quantity"),
        when(col("id") % 2L === 0L, col("id") % 50L)
          .otherwise(col("id") * 20L % 8000000L).as("storeId"))
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
    assert(adaptive === viaHash)
  }

  test("shared-dense survives partial consumption (show/limit/take) and never leaks state") {
    // show/limit/take scan partition subsets across several jobs; a
    // lazy frame must still give its one row to every consumption mode
    import org.apache.spark.sql.functions.col
    val items = spark.range(1L, 101L)
      .select(col("id"), (col("id") * 3L % 100L).as("price"))
    val orders = spark.range(0L, 50000L, 1L, 8)
      .select((col("id") % 100L + 1L).as("itemId"),
        (col("id") % 5L).as("quantity"),
        (col("id") * 100L).as("storeId"))
    val expected = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val df = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId")
    assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
    assert(df.limit(1).collect()(0).getLong(0) === expected)
    assert(df.take(1)(0).getLong(0) === expected)
    df.show() // must not throw or return an empty frame
    assert(df.head().getLong(0) === expected)
  }

  test("shared-dense rejects a group outside the stats-proven domain with a diagnosis, and still cleans up") {
    // the data changes under an unchanged plan (a parquet directory
    // overwritten in place) without clearRelationCaches: the cached
    // min/max go stale, and a group past them must fail, not wrap
    import org.apache.spark.sql.functions.{col, lit, when}
    val items = spark.range(1L, 11L)
      .select(col("id"), (col("id") * 3L).as("price"))
    val dir = java.nio.file.Files.createTempDirectory("range_dense_stale").toString
    def write(top: Long): Unit = spark.range(0L, 1000L, 1L, 4)
      .select((col("id") % 10L + 1L).as("itemId"), (col("id") % 5L).as("quantity"),
        when(col("id") === 999L, lit(top)).otherwise(col("id") * 5000L).as("storeId"))
      .write.mode("overwrite").parquet(dir)
    def run() = Q4112.part2Adaptive(items, spark.read.parquet(dir), "id", "itemId", "price",
      "quantity", "storeId")
    try {
      write(5000000L) // domain [0, 5e6]
      assert(run().collect()(0).getLong(0) === Q4112.part2(items, spark.read.parquet(dir),
        "id", "itemId", "price", "quantity", "storeId").collect()(0).getLong(0))
      assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
      write(9000000L)
      val e = intercept[Exception](run().collect())
      assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("group 9000000 outside the stats-proven domain")),
        messages(e).mkString(" | "))
    } finally Q4112.clearRelationCaches()
  }

  test("dense-array partial aggregate rejects a group outside its stated domain") {
    // the stage over [5, 15): group 15 would add into the NULL slot, and
    // group 5 + 2^32 would wrap `toInt` into live slot 0
    val spark2 = spark
    import spark2.implicits._
    for (bad <- Seq(15L, 5L + (1L << 32)); nullable <- Seq(false, true)) {
      val rows = Seq((5L, 7L), (bad, 11L))
      val gv =
        if (nullable) rows.map { case (g, v) => (Long.box(g), Long.box(v)) }.toDF("g", "v")
        else rows.toDF("g", "v")
      assert(gv.schema.forall(_.nullable) === nullable)
      val e = intercept[Exception](Q4112.denseGroupedAvg(gv, minGroup = 5L, domain = 10).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(s"group $bad outside the stats-proven")),
        s"group $bad, nullable $nullable: $e")
    }
  }

  test("router proves null-freedom of the VALUE inputs, not just the group (ADVICE r10 #2)") {
    // a NULL quantity survives the join and makes v NULL — the hash
    // plans' sum skips it, and so do the dense forms the router picks
    // without asking whether the data carries NULLs
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val base = spark.range(0L, 20000L, 1L, 4)
      .select((col("id") % 100L + 1L).as("itemId"),
        (col("id") % 7L).as("quantity"), col("id").as("storeId"))
    val nullRow = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, null, 19990L)).toDF("itemId", "quantity", "storeId")
    val orders = base.unionByName(nullRow)
    val items = spark.range(1L, 101L)
      .select(col("id"), (col("id") % 97L).as("price"))
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
    assert(adaptive === viaHash)
    // same for a NULL price on the build side, which the dense build
    // refuses: the hash join feeds the dense aggregate
    val itemsN = items.unionByName(Seq[(java.lang.Long, java.lang.Long)](
      (100L, null)).toDF("id", "price"))
    val ordersClean = base
    val viaHash2 = Q4112.part2(itemsN, ordersClean, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val adaptive2 = Q4112.part2Adaptive(itemsN, ordersClean, "id", "itemId",
      "price", "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
    assert(adaptive2 === viaHash2)
    // ten singleton groups of v = 1000, plus a NULL-quantity row in
    // group 0: the NULL v must stay in its group (909 if it moved, not 950)
    val few = ((1L, Option.empty[Long], 0L) +: (0L until 10L).map(g => (1L, Option(100L), g)))
      .toDF("itemId", "quantity", "storeId")
    val itemsOne = Seq((1L, 10L)).toDF("id", "price")
    val viaHash3 = Q4112.part2(itemsOne, few, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    assert(viaHash3 === 950L)
    assert(Q4112.part2Adaptive(itemsOne, few, "id", "itemId", "price", "quantity",
      "storeId").collect()(0).getLong(0) === viaHash3, Q4112.lastChosenPlan)
    assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
  }

  test("shared-dense fires on raw nullable-schema parquet via stats-proven null-freedom") {
    // parquet schemas are always nullable: the router takes the dense
    // kernel on the un-coerced relations, with no NULL proof to make
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("range_dense_pq").toString
    spark.range(1L, 101L)
      .select(col("id"), (col("id") * 7L % 1000L).as("price"))
      .write.mode("overwrite").parquet(s"$dir/items")
    spark.range(0L, 100000L, 1L, 8)
      .select((col("id") % 100L + 1L).as("itemId"),
        (col("id") % 9L).as("quantity"),
        (col("id") * 64L).as("storeId"))
      .write.mode("overwrite").parquet(s"$dir/orders")
    val items = spark.read.parquet(s"$dir/items")
    val orders = spark.read.parquet(s"$dir/orders")
    assert(items.schema.forall(_.nullable) && orders.schema.forall(_.nullable),
      "test requires raw nullable parquet schemas")
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId",
      "price", "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "range_dense", Q4112.lastChosenPlan)
    assert(adaptive === viaHash)
  }

  test("adaptive part2 on an empty relation falls back instead of throwing") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val items = (1L to 10L).map(i => (i, i * 3)).toDF("id", "price")
    val empty = spark.range(0).select(col("id").as("itemId"),
      col("id").as("quantity"), col("id").as("storeId"))
    val viaHash = Q4112.part2(items, empty, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0)
    // pre-fix this NPE'd in minMaxLongs on the NULL min/max row (advice r9 #3)
    val adaptive = Q4112.part2Adaptive(items, empty, "id", "itemId", "price",
      "quantity", "storeId").collect()(0)
    assert(viaHash.isNullAt(0) && adaptive.isNullAt(0))
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
    // a DOUBLE group column has no integral min/max, and a cast to long
    // would merge groups 2.5 and 2.0: the hash plan, asked before the
    // statistics; the forced dense form fails a stated require
    val halves = spark.range(0L, 1000L, 1L, 4).select((col("id") % 10L + 1L).as("itemId"),
      (col("id") % 5L).as("quantity"), (col("id") % 7L + col("id") % 2L * 0.5).as("storeId"))
    val hashHalves = Q4112.part2(items, halves, "id", "itemId", "price", "quantity", "storeId",
      Q4112.BroadcastHash).collect()(0).getLong(0)
    assert(Q4112.part2Adaptive(items, halves, "id", "itemId", "price", "quantity", "storeId")
      .collect()(0).getLong(0) === hashHalves)
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
    val e = intercept[IllegalArgumentException](Q4112.part2DenseAgg(items, halves, "id",
      "itemId", "price", "quantity", "storeId"))
    assert(e.getMessage.contains("'storeId' is double"), e.getMessage)
  }

  test("a group domain wider than 2^63 is rejected by the dense router, not wrapped") {
    // [Long.MinValue, Long.MaxValue]: the width subtraction wraps to -1,
    // which pre-fix passed `< DenseAggMaxDomain` and produced a garbage
    // array size (advice r9 #1); the w >= 0 guard must reject it
    import org.apache.spark.sql.functions.{col, lit, when}
    val spark2 = spark
    import spark2.implicits._
    val items = (1L to 50L).map(i => (i, (i * 7) % 100)).toDF("id", "price")
    val orders = spark.range(0L, 10000L, 1L, 4)
      .select((col("id") % 50L + 1L).as("itemId"),
        (col("id") % 7L).as("quantity"),
        when(col("id") % 2L === 0L, lit(Long.MinValue))
          .otherwise(lit(Long.MaxValue)).as("storeId"))
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    val adaptive = Q4112.part2Adaptive(items, orders, "id", "itemId", "price",
      "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
    assert(adaptive === viaHash)
  }

  test("adaptive planners detect a bucketed layout: part1 elides the join exchanges, part2 the group-by exchange") {
    val cfg = GenConfig(1000, 1.0, 999, 20000, 1.0, 999, 50, 0, 0.0, seed = 41)
    def writeBkt(df: org.apache.spark.sql.DataFrame, table: String, key: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode("overwrite").bucketBy(8, key).sortBy(key).format("parquet").saveAsTable(table)
    }
    writeBkt(itemsDf(cfg), "p1spec_items", "id")
    writeBkt(ordersDf(cfg), "p1spec_orders_ik", "itemId")
    writeBkt(ordersDf(cfg), "p1spec_orders_g", "storeId")
    val items = Q4112Gen.items(spark, cfg).collect().toSeq
    val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
    val oracle1 = Q4112Gen.oraclePart1(items, orders)
    val oracle2 = Q4112Gen.oracleFull(items, orders)
    // layout detection inspects the scan's outputPartitioning; with
    // autoBucketedScan enabled Spark plans a BARE scan as non-bucketed
    // (the same reason Matrix pins the conf false)
    val absKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val oldAbs = spark.conf.get(absKey)
    spark.conf.set(absKey, "false")
    try {
      val p1 = Q4112.part1Adaptive(spark.table("p1spec_items"), spark.table("p1spec_orders_ik"),
        "id", "itemId", "price", "quantity")
      assert(p1.collect().head.getLong(0) === oracle1.get)
      assert(Q4112.lastChosenPlan === "bucketed-shj")
      // the ungrouped final agg always ends in one Exchange
      // SinglePartition; what the layout removes is every
      // hashpartitioning exchange (the join's shuffles)
      val plan1 = p1.queryExecution.executedPlan.toString
      assert(!plan1.contains("Exchange hashpartitioning"),
        s"co-located part1 must not shuffle on the join key:\n$plan1")

      val p2 = Q4112.part2Adaptive(spark.table("p1spec_items"), spark.table("p1spec_orders_g"),
        "id", "itemId", "price", "quantity", "storeId")
      assert(p2.collect().head.getLong(0) === oracle2.get)
      assert(Q4112.lastChosenPlan === "bucketed")
      val plan2 = p2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange hashpartitioning"),
        s"bucketed part2 must not re-shuffle on the group key:\n$plan2")

      // non-bucketed input, contiguous-key dimension: the planner now
      // prefers the dense perfect-hash probe on its own (denseEligible
      // from cached stats — a bounds-check + array index beats a hash
      // probe at every build size), and the result still matches
      val d1 = Q4112.part1Adaptive(itemsDf(cfg), ordersDf(cfg), "id", "itemId",
        "price", "quantity")
      assert(d1.collect().head.getLong(0) === oracle1.get)
      assert(Q4112.lastChosenPlan === "dense")
      // non-contiguous build keys (gaps) make dense ineligible — the
      // broadcast-hash default remains (no false positive)
      import org.apache.spark.sql.functions.col
      val gappy = itemsDf(cfg).where(col("id") % 7 =!= 0)
      Q4112.part1Adaptive(gappy, ordersDf(cfg), "id", "itemId", "price", "quantity")
        .collect()
      assert(Q4112.lastChosenPlan === "broadcast")
    } finally {
      spark.conf.set(absKey, oldAbs)
      for (t <- Seq("p1spec_items", "p1spec_orders_ik", "p1spec_orders_g"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("dense build handles non-contiguous partition runs (shuffled input)") {
    // repartition scrambles row order so partitions are NOT ascending
    // contiguous runs — exercises the (keys, values) fallback chunks
    val cfg = GenConfig(300, 1.0, 999, 3000, 0.9, 999, 0, 0, 0.0, seed = 41)
    val items = Q4112Gen.items(spark, cfg).toDF()
      .repartition(5, org.apache.spark.sql.functions.col("price"))
    val orders = Q4112Gen.orders(spark, cfg).toDF()
    val hash1 = Q4112.part1(Q4112Gen.items(spark, cfg).toDF(), orders,
      "id", "itemId", "price", "quantity").collect().head.getLong(0)
    val dense1 = Q4112.part1Dense(items, orders, "id", "itemId", "price", "quantity")
      .collect().head.getLong(0)
    assert(dense1 === hash1)
  }

  test("dense-key path rejects a non-contiguous domain") {
    import spark.implicits._
    val holey = Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("id", "price")
    val orders = Seq((1L, 1L, 1L)).toDF("itemId", "storeId", "quantity")
    assertThrows[IllegalArgumentException] {
      Q4112.part1Dense(holey, orders, "id", "itemId", "price", "quantity")
    }
    // a duplicate plus a gap passes max - min + 1 == rows: the build must
    // see that slot 2 is never written and slot 1 twice
    val dupGap = Seq((1L, 10L), (1L, 20L), (3L, 30L)).toDF("id", "price")
    val probe = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)).toDF("itemId", "storeId", "quantity")
    def one(df: org.apache.spark.sql.DataFrame) = df.collect().head.getLong(0)
    val hash1 = one(Q4112.part1(dupGap, probe, "id", "itemId", "price", "quantity",
      Q4112.BroadcastHash))
    assert(hash1 === 20L) // (10 + 20 + 30) div 3
    assert(one(Q4112.part1Adaptive(dupGap, probe, "id", "itemId", "price", "quantity")) === hash1)
    assert(Q4112.lastChosenPlan === "broadcast")
    val hash2 = one(Q4112.part2(dupGap, probe, "id", "itemId", "price", "quantity", "storeId",
      Q4112.BroadcastHash))
    assert(one(Q4112.part2Adaptive(dupGap, probe, "id", "itemId", "price", "quantity",
      "storeId")) === hash2)
    val e = intercept[IllegalArgumentException] {
      Q4112.part1Dense(dupGap, probe, "id", "itemId", "price", "quantity")
    }
    assert(e.getMessage.contains("exactly once"), e.getMessage)
  }

  test("priceOf closed form equals the generator's column expression") {
    val cfg = GenConfig(1000, 1.0, 99999, 5000, 1.0, 99999, 0, 0, 0.0, seed = 4112)
    val items = Q4112Gen.items(spark, cfg).collect()
    assert(items.forall(i => i.price === Q4112Gen.priceOf(cfg, i.id)))
  }

  test("distributed oracles agree with the collections oracles") {
    val cfg = GenConfig(200, 0.7, 999, 20000, 0.8, 999, 50, 5, 0.6, seed = 7)
    val items = Q4112Gen.items(spark, cfg)
    val orders = Q4112Gen.orders(spark, cfg)
    val itemSeq = items.collect().toSeq
    val orderSeq = orders.collect().toSeq
    assert(Q4112Gen.oraclePart1Rdd(orders, cfg) ===
      Q4112Gen.oraclePart1(itemSeq, orderSeq))
    assert(Q4112Gen.oracleFullRdd(orders, cfg) ===
      Q4112Gen.oracleFull(itemSeq, orderSeq))
    assert(Q4112Gen.oracleFullCas(orders, cfg) ===
      Q4112Gen.oracleFull(itemSeq, orderSeq))
  }
}
