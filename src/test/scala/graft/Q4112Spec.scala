package graft

import graft.functions.DenseBuild
import graft.gen.Q4112Gen
import graft.model.GenConfig
import graft.ops.Q4112
import graft.sources.Tables

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

  /** True when building `df` fails the dense build's stated `require`. */
  private def notDense(df: => org.apache.spark.sql.DataFrame): Boolean =
    intercept[IllegalArgumentException](df).getMessage
      .startsWith("requirement failed: dense-key path requires")

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
    // a non-contiguous key domain: the dense form fails its stated
    // require, and the planner takes the hash plan
    val gappy = items.where(col("id") % 7 =!= 0)
    // every part-2 form against the broadcast-hash plan, over the dense
    // and the gappy build side
    def checkPart2(what: String, orders: DataFrame): Unit =
      for (it <- Seq(items, gappy)) {
        val hash2 = result(part2(it, orders, "id", "itemId", "price", "quantity", "storeId",
          BroadcastHash))
        val on = s"$what, ${if (it eq items) "dense" else "gappy"} items"
        if (it eq items) {
          assert(result(part2Dense(it, orders, "id", "itemId", "price", "quantity",
            "storeId")) === hash2, on)
          // the planner's hash-aggregate form over a dense build side
          assert(result(part2DenseLookup(it, orders, "id", "itemId", "price", "quantity",
            "storeId")) === hash2, on)
        } else
          assert(notDense(part2Dense(it, orders, "id", "itemId", "price", "quantity",
            "storeId")), on)
        assert(result(part2Adaptive(it, orders, "id", "itemId", "price", "quantity",
          "storeId")) === hash2, on)
        if (!(it eq items)) assert(lastChosenPlan === "partial", on)
      }
    // every form against the hash plans; returns the kernels' one batch
    // source (both frames are built before either runs)
    def check(what: String, orders: DataFrame): String = {
      val p1 = part1Dense(items, orders, "id", "itemId", "price", "quantity")
      val p2 = part2Dense(items, orders, "id", "itemId", "price", "quantity", "storeId")
      assert(result(p1) === result(part1(items, orders, "id", "itemId", "price", "quantity",
        BroadcastHash)), what)
      checkPart2(what, orders)
      val sources = (probeSources(p1) ++ probeSources(p2)).distinct
      assert(sources.size === 1, s"$what: $sources")
      sources.head
    }
    // a cache materialized before the kernels plan
    def cachedNow(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    def withCached(df: DataFrame)(body: DataFrame => Unit): Unit = {
      val c = cachedNow(df)
      try body(c) finally c.unpersist(blocking = true)
    }
    // an uncached generator plan is executed as rows
    assert(check("generator", gen) === "rows")
    // a materialized cache hands the kernels its stored batches
    withCached(gen) { cached =>
      assert(check("cached", cached) === "cache")
      // and so does a reordered subset of its columns
      assert(check("cached subset", cached.select("quantity", "storeId", "itemId")) === "cache")
      // a filter's rows are not the cache's: executed as rows
      assert(check("cached filter", cached.where(col("quantity") > 2)) === "rows")
    }
    // a cache not materialized yet is read through its scan, which
    // builds the buffers (part 2's domain statistics come from the
    // relation caches' entry for the earlier cache of this plan, so no
    // job materializes it before both kernels pick their source)
    val lazyCache = gen.cache()
    try assert(check("unmaterialized cache", lazyCache) === "columnar")
    finally lazyCache.unpersist(blocking = true)
    // a relation with a double or a string column is cached in Spark's
    // default format, whose scan emits vectors only when every column of
    // the relation is a primitive
    withCached(gen.withColumn("w", lit(1.5))) { weighted =>
      assert(check("default-format cache", weighted) === "columnar")
    }
    withCached(gen.withColumn("tag", lit("t"))) { tagged =>
      assert(check("default-format cache with a string", tagged) === "rows")
    }
    // a vectorized parquet scan hands over its vectors
    val dir = java.nio.file.Files.createTempDirectory("dense_probe_pq").toString
    gen.write.mode("overwrite").parquet(dir)
    assert(check("parquet", spark.read.parquet(dir)) === "columnar")
    // int-stored keys, quantities and groups
    withCached(gen.select((col("itemId") % 100000).cast("int").as("itemId"),
      col("quantity").cast("int").as("quantity"), col("storeId").cast("int").as("storeId"))) {
      narrow => assert(check("int-stored", narrow) === "cache")
    }
    // keys below and above the domain, NULL keys, quantities and groups
    val holes = gen.select(
      when(col("quantity") % 5 === 0, lit(null)).when(col("quantity") % 5 === 1, -col("itemId"))
        .otherwise(col("itemId")).as("itemId"),
      when(col("quantity") % 7 === 0, lit(null)).otherwise(col("quantity")).as("quantity"),
      when(col("quantity") % 11 === 0, lit(null)).otherwise(col("storeId")).as("storeId"))
    check("nullable", holes)
    withCached(holes)(c => assert(check("nullable cached", c) === "cache"))
    // every quantity NULL: no product, so every form answers NULL
    val noQty = gen.withColumn("quantity", lit(null).cast("long"))
    check("all-NULL quantity", noQty)
    assert(result(part1Dense(items, noQty, "id", "itemId", "price", "quantity")) === None)
    // empty partitions, and a relation that plans no partition at all
    check("empty", gen.where(col("itemId") < 0))
    val none = Seq.empty[(Long, Long, Long)].toDF("itemId", "storeId", "quantity").where(lit(false))
    assert(none.queryExecution.toRdd.getNumPartitions === 0)
    check("zero partitions", none)
    // one orders row
    check("one row", Seq((3L, 5L, 2L)).toDF("itemId", "quantity", "storeId"))
    // every group NULL: one NULL group, and no min/max for the domain;
    // cached, an all-NULL column in every batch
    val nullGroup = gen.withColumn("storeId", lit(null).cast("long"))
    check("all-NULL group", nullGroup)
    withCached(nullGroup)(c => assert(check("all-NULL group cached", c) === "cache"))
    // one hot item in one hot group; cached, constant columns
    val hot = gen.withColumn("itemId", lit(7L)).withColumn("storeId", lit(3L))
    check("one hot key and group", hot)
    withCached(hot)(c => assert(check("one hot key and group cached", c) === "cache"))
    // the dense build reads a cached items relation's stored batches
    withCached(items.select(col("price"), col("id"))) { cachedItems =>
      val built = scala.collection.mutable.ArrayBuffer[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = built.synchronized {
          built ++= e.stageInfo.rddInfos.map(_.name).filter(_.startsWith("dense build over"))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(result(part1Dense(cachedItems, gen, "id", "itemId", "price", "quantity")) ===
          result(part1(items, gen, "id", "itemId", "price", "quantity", BroadcastHash)))
        org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(built.synchronized(built.toSeq) === Seq("dense build over cache"))
    }
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
      val viaDense = result(Q4112.part2Dense(items, orders, "id", "itemId", "price",
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
    // a gap in the keys: the dense form refuses it, and the planner
    // takes the hash plan
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
    assert(notDense(Q4112.part2Dense(gappy, orders, "id", "itemId", "price", "quantity",
      "storeId")))
    for (o <- Seq(orders, oneTask)) {
      assert(overflows(Q4112.part2(items, o, "id", "itemId", "price", "quantity",
        "storeId", Q4112.BroadcastHash)))
      assert(overflows(Q4112.part2Dense(items, o, "id", "itemId", "price", "quantity",
        "storeId")))
      assert(overflows(Q4112.part2Adaptive(gappy, o, "id", "itemId", "price", "quantity",
        "storeId")))
      assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
      assert(overflows(Q4112.part2Dense(items, wide(o), "id", "itemId", "price", "quantity",
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
        assert(one(Q4112.part2Dense(items, o, "id", "itemId", "price", "quantity",
          "storeId")) === hash2)
        assert(one(Q4112.part2Adaptive(gappy, o, "id", "itemId", "price", "quantity",
          "storeId")) === one(Q4112.part2(gappy, o, "id", "itemId", "price", "quantity",
          "storeId", Q4112.BroadcastHash)))
        assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
        assert(one(Q4112.part2Dense(items, wide(o), "id", "itemId", "price", "quantity",
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
    // an unused key past a gap: the same join, which the dense form
    // refuses and the planner answers with the hash plan
    val gappy = Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("id", "price")
    val viaHash = Q4112.part2(items, orders, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0)
    // expected by hand: avgs {100->10, 101->60, 102->NULL, NULL->20};
    // sum(10,60,20)=90 over count 4 -> 90 div 4 = 22
    assert(viaHash.getLong(0) === 22L)
    val viaDense = Q4112.part2Dense(items, orders, "id", "itemId", "price",
      "quantity", "storeId").collect()(0)
    assert(viaDense.getLong(0) === 22L)
    assert(notDense(Q4112.part2Dense(gappy, orders, "id", "itemId", "price", "quantity",
      "storeId")))
    assert(Q4112.part2Adaptive(gappy, orders, "id", "itemId", "price", "quantity", "storeId")
      .collect()(0).getLong(0) === 22L)
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
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
    val direct = Q4112.part2Dense(items, orders, "id", "itemId", "price",
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
    // the per-task array kernel on a partial_dense domain [5, 54] whose
    // data is overwritten in place without clearRelationCaches: group 55
    // would add into the NULL slot, and group 5 + 2^32 would wrap `toInt`
    // into live slot 0
    import org.apache.spark.sql.functions.{col, lit, when}
    val items = spark.range(1L, 11L)
      .select(col("id"), (col("id") * 3L).as("price"))
    val dir = java.nio.file.Files.createTempDirectory("partial_dense_stale").toString
    def write(top: Long): Unit = spark.range(0L, 1000L, 1L, 4)
      .select((col("id") % 10L + 1L).as("itemId"), (col("id") % 5L).as("quantity"),
        when(col("id") === 999L, lit(top)).otherwise(col("id") % 50L + 5L).as("storeId"))
      .write.mode("overwrite").parquet(dir)
    def orders = spark.read.parquet(dir)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    try {
      write(54L)
      assert(Q4112.part2Adaptive(items, orders, "id", "itemId", "price", "quantity", "storeId")
        .collect()(0).getLong(0) === Q4112.part2(items, orders, "id", "itemId", "price",
        "quantity", "storeId").collect()(0).getLong(0))
      assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
      for (bad <- Seq(55L, 5L + (1L << 32))) {
        write(bad)
        val viaPlanner = intercept[Exception](Q4112.part2Adaptive(items, orders, "id", "itemId",
          "price", "quantity", "storeId").collect())
        assert(Q4112.lastChosenPlan === "partial_dense", Q4112.lastChosenPlan)
        val viaForm = intercept[Exception](Q4112.part2Dense(items, orders, "id", "itemId",
          "price", "quantity", "storeId").collect())
        for (e <- Seq(viaPlanner, viaForm))
          assert(messages(e).exists(_.contains(s"group $bad outside the stats-proven domain")),
            messages(e).mkString(" | "))
      }
    } finally Q4112.clearRelationCaches()
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
    // a NULL price on the build side, which the dense build refuses:
    // the dense form fails its stated require, and the planner takes
    // the hash plan
    val itemsN = items.unionByName(Seq[(java.lang.Long, java.lang.Long)](
      (100L, null)).toDF("id", "price"))
    val ordersClean = base
    val viaHash2 = Q4112.part2(itemsN, ordersClean, "id", "itemId", "price",
      "quantity", "storeId", Q4112.BroadcastHash).collect()(0).getLong(0)
    assert(notDense(Q4112.part2Dense(itemsN, ordersClean, "id", "itemId", "price", "quantity",
      "storeId")))
    val adaptive2 = Q4112.part2Adaptive(itemsN, ordersClean, "id", "itemId",
      "price", "quantity", "storeId").collect()(0).getLong(0)
    assert(Q4112.lastChosenPlan === "partial", Q4112.lastChosenPlan)
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
    val e = intercept[IllegalArgumentException](Q4112.part2Dense(items, halves, "id",
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
    Tables.writeBucketed(itemsDf(cfg), "p1spec_items", 8, "id")
    Tables.writeBucketed(ordersDf(cfg), "p1spec_orders_ik", 8, "itemId")
    Tables.writeBucketed(ordersDf(cfg), "p1spec_orders_g", 8, "storeId")
    val items = Q4112Gen.items(spark, cfg).collect().toSeq
    val orders = Q4112Gen.orders(spark, cfg).collect().toSeq
    val oracle1 = Q4112Gen.oraclePart1(items, orders)
    val oracle2 = Q4112Gen.oracleFull(items, orders)
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

  test("dense build ships 32-bit offsets within a partition's value range, and answers as longs") {
    val spark2 = spark
    import spark2.implicits._
    val span = 0xFFFFFFFFL // 2^32 - 1
    // the encoder: one ascending run of keys ships only its start slot;
    // any other order ships every row's slot, as an Int
    def encoded(rows: (Long, Long)*): DenseBuildChunk = {
      val enc = new DenseBuildChunk.Encoder(1L, 4L, -7L, -7L + span)
      rows.foreach { case (k, v) => enc.add(k, v) }
      enc.result()
    }
    val run = encoded((2L, -7L), (3L, -7L + span), (4L, 0L))
    assert(run.fault === null && run.start === 1 && run.slots === null)
    assert(run.offsets.toSeq === Seq(0, span.toInt, 7))
    val broken = encoded((3L, 5L), (4L, -7L + (1L << 31)), (1L, -7L), (2L, 1L))
    assert(broken.fault === null && broken.slots.toSeq === Seq(2, 3, 0, 1))
    // offsets at or above 2^31 are negative as Int and read back unsigned
    assert(broken.offsets.toSeq.map(DenseBuild.value(-7L, _)) ===
      Seq(5L, -7L + (1L << 31), -7L, 1L))
    assert(broken.offsets(1) < 0)
    // the broadcast array over keys 1..n, one partition per price list,
    // read back as base + unsigned offset; `rotated` emits each
    // partition's rows from its second key on, so its keys are not one
    // ascending run
    def built(rotated: Boolean)(partitions: Seq[Long]*): Seq[Long] = {
      Q4112.clearRelationCaches()
      val starts = partitions.scanLeft(1L)(_ + _.length)
      val items = spark.sparkContext
        .parallelize(partitions.indices.map(p => (starts(p), partitions(p))), partitions.length)
        .flatMap { case (first, ps) =>
          val at = if (rotated) ps.indices.drop(1) ++ ps.indices.take(1) else ps.indices
          at.map(i => (first + i, ps(i)))
        }
        .toDF("id", "price")
      assert(items.rdd.glom().collect().map(_.length).toSeq === partitions.map(_.length))
      val b = Q4112.denseValuesArray(items, "id", "price")
      assert(b.minKey === 1L)
      b.values.value.toSeq.map(DenseBuild.value(b.base, _))
    }
    for (parts <- Seq(
        Seq(Seq(-5L, 3L, -1000000000L), Seq(7L, -1L)),                 // negative prices
        Seq(Seq(-3L, -3L + span, 0L), Seq(-3L + (1L << 31), -2L)),      // range 2^32 - 1
        Seq(Seq(Long.MaxValue, Long.MaxValue - span),
          Seq(Long.MaxValue - (1L << 31), Long.MaxValue - 1L)));         // near Long.MaxValue
        rotated <- Seq(false, true))
      try assert(built(rotated)(parts: _*) === parts.flatten, (parts, rotated))
      finally Q4112.clearRelationCaches()
    // the dense contract's stated reasons, with narrow and wide values
    def reason(rows: (java.lang.Long, java.lang.Long)*): String = {
      Q4112.clearRelationCaches()
      try intercept[IllegalArgumentException](
        Q4112.denseValuesArray(rows.toDF("id", "price"), "id", "price")).getMessage
      finally Q4112.clearRelationCaches()
    }
    // a value range of 2^32 or more has no 32-bit offsets
    for (wide <- Seq(Seq(-3L, -3L + span + 1L, 0L), Seq(Long.MinValue, Long.MaxValue, 0L))) {
      val why = reason(wide.zipWithIndex.map { case (v, i) =>
        (java.lang.Long.valueOf(i + 1L), java.lang.Long.valueOf(v)) }: _*)
      assert(why.contains(s"requires values spanning less than 2^32: 'price' spans " +
        s"[${wide.min},${wide.max}]"), why)
    }
    for (big <- Seq(30L, 1L << 40)) {
      // a duplicate plus a gap passes min, max and rows
      val dupGap = reason((1L, 10L), (1L, 20L), (3L, big))
      assert(dupGap.contains("exactly once") && dupGap.contains("occurs twice"), dupGap)
      val nullValue = reason((1L, 10L), (2L, null), (3L, big))
      assert(nullValue.contains("1 rows carry a NULL"), nullValue)
      // keys 1, 2, 4 and a NULL: min 1, max 4 and 4 rows pass too
      val nullKey = reason((1L, 10L), (2L, 20L), (4L, big), (null, 5L))
      assert(nullKey.contains("1 rows carry a NULL"), nullKey)
      val allNull = reason((null, 10L), (null, big))
      assert(allNull.contains("'id' is all NULL"), allNull)
    }
    val allNullValue = reason((1L, null), (2L, null))
    assert(allNullValue.contains("'price' is all NULL"), allNullValue)
  }

  test("a value outside the statistics' range fails the dense build with the value and the range") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // the encoder, with bounds narrower than the data: keys [1, 3],
    // values [10, 20]
    def fault(rows: (Long, Long)*): DenseBuildChunk = {
      val enc = new DenseBuildChunk.Encoder(1L, 3L, 10L, 20L)
      rows.foreach { case (k, v) => enc.add(k, v) }
      enc.result()
    }
    assert(fault((1L, 10L), (2L, 20L), (3L, 15L)).fault === null)
    // below, above, and 2^32 above the minimum, which would wrap into
    // offset 0
    for (v <- Seq(9L, 21L, 10L + (1L << 32), Long.MinValue, Long.MaxValue)) {
      val c = fault((1L, 10L), (2L, v), (3L, 15L))
      assert(c.fault.contains(s"saw $v") && c.fault.contains("[10,20]"), c.fault)
      assert(c.offsets.isEmpty, "a chunk with a fault ships no rows")
    }
    val key = fault((1L, 10L), (4L, 10L)).fault
    assert(key.contains("key 4 outside [1,3]"), key)
    // end to end: the statistics are cached, then the data is
    // overwritten under an unchanged plan without clearRelationCaches
    val dir = java.nio.file.Files.createTempDirectory("dense_build_stale").toString
    def write(top: Long): Unit = spark.range(1L, 101L, 1L, 2)
      .select(col("id"), when(col("id") === 77L, lit(top)).otherwise(col("id") % 50L).as("price"))
      .write.mode("overwrite").parquet(dir)
    def items = spark.read.parquet(dir)
    val orders = spark.range(0L, 1000L, 1L, 2)
      .select((col("id") % 100L + 1L).as("itemId"), (col("id") % 7L).as("quantity"))
    try {
      Q4112.clearRelationCaches()
      write(3L)
      assert(Q4112.minMaxLongs(items, Seq("id", "price")) === Seq((1L, 100L), (0L, 49L)))
      write(1000L)
      val why = intercept[IllegalArgumentException](Q4112.denseValuesArray(items, "id", "price"))
        .getMessage
      assert(why.contains("saw 1000") && why.contains("[0,49]") && why.contains("stale"), why)
      // the planner takes the hash plan over the new data
      assert(Q4112.part1Adaptive(items, orders, "id", "itemId", "price", "quantity").head() ===
        Q4112.part1(items, orders, "id", "itemId", "price", "quantity").head())
      assert(Q4112.lastChosenPlan === "broadcast", Q4112.lastChosenPlan)
    } finally Q4112.clearRelationCaches()
  }

  test("every dense reader reads offsets of 2^31 and more unsigned; wider values take the hash plan") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val span = 0xFFFFFFFFL // 2^32 - 1
    def items(values: Seq[Long]): DataFrame =
      values.zipWithIndex.map { case (v, i) => (i + 1L, v) }.toDF("id", "price")
    // every value span exactly 2^32 - 1, so offsets 2^31 and up read
    // negative as Int: negative values, and values near Long.MaxValue
    val low = -(1L << 31) - 5L
    val negative = items(Seq(low, low + span, -1L, 0L, 1L, low + (1L << 31),
      low + (1L << 31) + 12345L, 7L, low + span - 1L))
    val high = items(Seq(Long.MaxValue, Long.MaxValue - span, Long.MaxValue - 1L,
      Long.MaxValue - span + (1L << 31), Long.MaxValue - span + 1L, Long.MaxValue - 99999L))
    // keys 0..10 (0 and 10 miss every build), groups over a domain of
    // 37 slots (per-task arrays) or ~7.2e6 slots (the combine cache);
    // `hot` multiplies one row's price by 1 and every other by 0, so the
    // high values sum without overflow under ANSI
    def orders(slots: Long, hot: Boolean): DataFrame = spark.range(0L, 2000L, 1L, 4).select(
      (col("id") % 11L).as("itemId"),
      (if (hot) (col("id") === 5L).cast("long") else col("id") % 3L).as("quantity"),
      (col("id") % 37L * slots).as("storeId"))
    def outcome(df: => DataFrame): Either[String, Option[Long]] =
      try Right(df.collect().toSeq match {
        case Seq(r) => if (r.isNullAt(0)) None else Some(r.getLong(0))
        case rows => fail(s"expected one row, got ${rows.size}")
      }) catch {
        case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow")) =>
          Left("overflow")
      }
    val noCodegen = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
      val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    try for (ansi <- Seq("true", "false")) withConf(Seq("spark.sql.ansi.enabled" -> ansi)) {
      for ((it, what) <- Seq(negative -> "negative", high -> "high"); hot <- Seq(false, true);
          slots <- Seq(1L, 200000L)) {
        val o = orders(slots, hot)
        val on = s"$what values, hot=$hot, slots=$slots, ansi=$ansi"
        val hash1 = outcome(part1(it, o, "id", "itemId", "price", "quantity", BroadcastHash))
        assert(outcome(part1Dense(it, o, "id", "itemId", "price", "quantity")) === hash1, on)
        assert(outcome(part1Adaptive(it, o, "id", "itemId", "price", "quantity")) === hash1, on)
        assert(lastChosenPlan === "dense", on)
        val hash2 = outcome(part2(it, o, "id", "itemId", "price", "quantity", "storeId",
          BroadcastHash))
        // the array path, or the combine cache past 2^22 slots
        assert(outcome(part2Dense(it, o, "id", "itemId", "price", "quantity", "storeId")) ===
          hash2, on)
        assert(outcome(part2Adaptive(it, o, "id", "itemId", "price", "quantity", "storeId")) ===
          hash2, on)
        assert(lastChosenPlan === (if (slots == 1L) "partial_dense" else "range_dense"), on)
        // DenseArrayLookup, generated and interpreted (nullSafeEval)
        assert(outcome(part2DenseLookup(it, o, "id", "itemId", "price", "quantity",
          "storeId")) === hash2, on)
        withConf(noCodegen) {
          assert(outcome(part2DenseLookup(it, o, "id", "itemId", "price", "quantity",
            "storeId")) === hash2, s"$on, no codegen")
        }
      }
      // a span of 2^32, and all of [Long.MinValue, Long.MaxValue]: the
      // dense build refuses them, and the planners take the hash plans
      for (wide <- Seq(items(Seq(-3L, -3L + span + 1L, 0L, 5L)),
          items(Seq(Long.MinValue, Long.MaxValue, 0L, 5L)))) {
        val o = orders(1L, hot = false)
        assert(notDense(part1Dense(wide, o, "id", "itemId", "price", "quantity")))
        assert(!denseEligible(wide, "id", "price"))
        assert(outcome(part1Adaptive(wide, o, "id", "itemId", "price", "quantity")) ===
          outcome(part1(wide, o, "id", "itemId", "price", "quantity", BroadcastHash)))
        assert(lastChosenPlan === "broadcast", lastChosenPlan)
        assert(outcome(part2Adaptive(wide, o, "id", "itemId", "price", "quantity", "storeId")) ===
          outcome(part2(wide, o, "id", "itemId", "price", "quantity", "storeId", BroadcastHash)))
        assert(lastChosenPlan === "partial", lastChosenPlan)
      }
    } finally clearRelationCaches()
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
