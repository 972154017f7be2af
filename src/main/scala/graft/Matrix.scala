package graft

import graft.gen.Q4112Gen
import graft.model.GenConfig
import graft.ops.Q4112

import org.apache.spark.sql.graft.bridge

/** Config-matrix harness — the Spark port of the reference's driver loop
  * (q4112_main.c:114-132): for each configuration, generate seeded data,
  * run the query `reps` times, assert the engine result equals the
  * independent oracle (q4112_main.c:127 `assert(gen_res == run_res)`),
  * and append one CSV row per run:
  * `inner,...,threads,repeat,ns,plan,calib,calib_shuffle,
  *  shuf_w_mb,shuf_r_mb,spill_mem_mb,spill_disk_mb`
  * (the reference's column order, q4112_main.c:128-131, plus the
  * physical-plan label, TWO fixed-work calibration probes
  * ([[Calibration]]) — the CPU spin, measured immediately before the
  * rep, and the ~1 GB shuffle round-trip (8-11 s on a 4-core host; sees
  * the disk/page-cache debt the spin is blind to), measured once per
  * cell before rep 1 — and the rep's EXACT TaskMetrics
  * IO: shuffle write/read and memory/disk spill MB. The probes make
  * ratios comparable ACROSS sessions, which the cfg17
  * 18.76/21.6/27.8 s spread on identical code showed raw times are
  * not; the TaskMetrics columns attribute drift to measured IO
  * instead of inference.
  *
  * `runMain graft.Matrix [outCsv] [scale] [part] [reps]` — scale shrinks
  * the reference matrices (outer=1e9 → 1e9·scale); default 1e-3 mirrors
  * FIXTURES.md. `part` = 1 | 2 | all (default all); `reps` defaults to 3.
  *
  * Every cell runs the adaptive planners, which work out the physical
  * plan from the relations. The environment picks only the stored
  * layout and the session's shuffle width:
  *  - `SPARK_GRAFT_P1_PLAN` = auto | bucketed | scan_floor;
  *  - `SPARK_GRAFT_P2_PLAN` = auto | bucketed | joined_bucketed;
  *  - `SPARK_GRAFT_SHUFFLE` = shuffle partitions (default: the cores).
  */
object Matrix {

  /** Part-1 matrix (PDF p.2 / BASELINE.md): 8 configs, ungrouped. */
  def part1Matrix(scale: Double): Seq[GenConfig] =
    for {
      (inner, isel) <- Seq((100L, 1.0), (100000L, 1.0), (100000000L, 0.5), (100000000L, 1.0))
      osel <- Seq(0.5, 1.0)
    } yield GenConfig(
      innerTuples = math.max(1L, (inner * scale).toLong),
      innerSelectivity = isel, innerValMax = 99999L,
      outerTuples = math.max(1L, (1000000000L * scale).toLong),
      outerSelectivity = osel, outerValMax = 99999L,
      groups = 0L, hhGroups = 0L, hhProbability = 0.0, seed = 4112L)

  /** Part-2 matrix (PDF p.3 / BASELINE.md): 21 configs with groups/skew. */
  def part2Matrix(scale: Double): Seq[GenConfig] = {
    val shapes = Seq(
      (100L, 100L, 0L, 0.0), (100L, 10000L, 0L, 0.0), (100L, 1000000L, 0L, 0.0),
      (100L, 100000000L, 0L, 0.0), (100L, 100000000L, 100L, 0.5),
      (100L, 100000000L, 100L, 1.0), (100L, 100000000L, 10000L, 1.0),
      (100000L, 100L, 0L, 0.0), (100000L, 10000L, 0L, 0.0), (100000L, 1000000L, 0L, 0.0),
      (100000L, 100000000L, 0L, 0.0), (100000L, 100000000L, 100L, 0.5),
      (100000L, 100000000L, 100L, 1.0), (100000L, 100000000L, 10000L, 1.0),
      (100000000L, 100L, 0L, 0.0), (100000000L, 10000L, 0L, 0.0),
      (100000000L, 1000000L, 0L, 0.0), (100000000L, 100000000L, 0L, 0.0),
      (100000000L, 100000000L, 100L, 0.5), (100000000L, 100000000L, 100L, 1.0),
      (100000000L, 100000000L, 10000L, 1.0))
    shapes.map { case (inner, groups, hh, hhp) =>
      val g = math.max(1L, (groups * scale).toLong)
      GenConfig(
        innerTuples = math.max(1L, (inner * scale).toLong),
        innerSelectivity = 1.0, innerValMax = 99999L,
        outerTuples = math.max(g, (1000000000L * scale).toLong),
        outerSelectivity = 1.0, outerValMax = 99999L,
        groups = g,
        hhGroups = math.min(math.max(if (hh == 0) 0L else 1L, (hh * scale).toLong), g),
        hhProbability = hhp, seed = 4112L)
    }
  }

  def main(args: Array[String]): Unit = {
    val outCsv = if (args.length > 0) args(0) else "matrix_results.csv"
    val scale = if (args.length > 1) args(1).toDouble else 1e-3
    val partFilter = if (args.length > 2) args(2) else "all"
    val reps = if (args.length > 3) args(3).toInt else 3
    val innerMin = if (args.length > 4) args(4).toLong else 0L
    // optional comma-separated 1-based config indices (within the part's
    // matrix order) — lets a long 1e9-scale session run a representative
    // subset per invocation
    val idxFilter: Option[Set[Int]] =
      if (args.length > 5 && args(5).nonEmpty) Some(args(5).split(",").map(_.toInt).toSet)
      else None
    val cpus = Engine.cpus
    // giant-group-count configs (part-2 cfg4/18: 1e8 singleton groups)
    // need more, smaller reduce tasks than cores: each reducer's
    // aggregation map holds groups/partitions entries NEXT TO the 24 GB
    // input cache, and 32 concurrent ~3M-entry maps OOM a 100 GB heap
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString)
    // part-2 stored layout: auto (none; the stats-adaptive planner picks
    // the plan, default) | bucketed (probe table stored clustered on the
    // group key) | joined_bucketed (the joined (group, v) projection
    // stored clustered on the group key). Every mode runs part2Adaptive,
    // which finds a registered layout itself; the CSV plan column
    // records what it chose. Unknown values fail fast: a typo would
    // otherwise run the wrong layout and write the typo into the CSV as
    // if it were a real mode.
    val p2Plan = sys.env.getOrElse("SPARK_GRAFT_P2_PLAN", "auto")
    require(Set("auto", "bucketed", "joined_bucketed")(p2Plan),
      s"SPARK_GRAFT_P2_PLAN must be auto|bucketed|joined_bucketed, got '$p2Plan'")
    // part-1 join layout: auto (dense array probe for a contiguous-key
    // build side, broadcast hash otherwise) | bucketed (BOTH tables
    // stored bucketed + sorted on the join key — the sort-merge join then
    // needs neither exchange nor sort nor driver-side broadcast build)
    // scan_floor is a DIAGNOSTIC, not a join plan: it times
    // `sum(quantity) div count(1)` over the same cached orders relation
    // — the engine's pure columnar-scan + ungrouped-agg floor with no
    // join, no lookup, no driver-side build job — so a part-1 cell's
    // ratio can be decomposed into (engine scan floor) + (probe cost)
    // + (dense-build job). Round-10 verdict item 7: cfg2 (the C's
    // 0.49 s best case) is dispatch/iterator-bound, and this mode
    // measures that floor instead of asserting it.
    val p1Plan = sys.env.getOrElse("SPARK_GRAFT_P1_PLAN", "auto")
    require(Set("auto", "bucketed", "scan_floor")(p1Plan),
      s"SPARK_GRAFT_P1_PLAN must be auto|bucketed|scan_floor, got '$p1Plan'")
    // buckets per layout table: 256 one-file buckets
    val buckets = 256
    val spark = Engine.session(cpus, Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      // the generated columns are near-unique longs: the cache's
      // DictionaryEncoding stats pass (boxed HashMap.put per value) costs
      // more than the whole query at 1e9 rows — store raw columnar
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      // the dense-key array build collects value-only chunks for
      // contiguous-run partitions (~8 B/key + serialization overhead —
      // 800 MB at inner=1e8); the cap must also fit the NON-contiguous
      // fallback (~16 B/key + overhead ≈ 1.6+ GB at 1e8), which a
      // shuffled dimension would hit — 2g sat right at that edge, 4g
      // covers both paths with margin. Same driver data path as Spark's
      // own BroadcastExchangeExec.
      "spark.driver.maxResultSize" -> "4g",
      // broadcast payloads here are near-random long[]: lz4 shrinks them
      // barely but costs a full compress+decompress pass per executor
      "spark.broadcast.compress" -> "false",
      // always honor a bucketed layout: the auto rule may plan a bare
      // scan (e.g. the cache-materialization pass) as non-bucketed,
      // which would strip the HashPartitioning/ordering the cached plan
      // hands to every later query — the layout-detection path
      // (Q4112.clusteredOn) and the sort-free bucketed SMJ depend on it
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"))
    // always-on per-rep IO attribution: exact shuffle/spill bytes per
    // timed rep land in the CSV next to the wall-clock probes, and the
    // rep's stages of 2 s or more of task time go to stderr (max vs sum
    // separates skew from uniform per-row cost)
    val repMetrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(repMetrics)

    // JIT/code-cache warm-up at 1e7 rows, untimed: measured on this box,
    // a session's FIRST config otherwise absorbs compilation + allocator
    // ramp-up across all its reps (cfg8 read 20-80 s where its healthy
    // time is ~4 s; later configs in the same session were clean)
    {
      val w = GenConfig(1000L, 1.0, 999L, 10000000L, 1.0, 999L,
        1000L, 0L, 0.0, 4112L)
      val wi = Q4112Gen.items(spark, w).cache()
      val wo = Q4112Gen.orders(spark, w).cache()
      wi.count(); wo.count()
      Q4112.part1(wi.toDF(), wo.toDF(), "id", "itemId", "price", "quantity",
        Q4112.BroadcastHash).collect()
      Q4112.part1Dense(wi.toDF(), wo.toDF(), "id", "itemId", "price", "quantity").collect()
      Q4112.part2Adaptive(wi.toDF(), wo.toDF(), "id", "itemId", "price",
        "quantity", "storeId").collect()
      Q4112Gen.oracleFullCas(wo, w)
      wi.unpersist(blocking = true); wo.unpersist(blocking = true)
      Q4112.clearRelationCaches()
      System.gc()
      System.err.println("[matrix] warm-up done")
    }

    // fixed-work calibration probes (Calibration): a matrix session's
    // effective host throughput is measurable inside the session itself
    // — cfg17's auto readings moved 18.76 → 21.6 → 27.8 s across three
    // rounds on byte-identical code, and without an in-session probe
    // those numbers cannot be compared
    Calibration.cpu(spark); Calibration.shuffle(spark) // warm both probes' codegen, untimed
    val idleShuffle = {
      System.err.println(f"[matrix] calib idle-check: cpu=${Calibration.cpu(spark)}%.3f s")
      val s = Calibration.shuffle(spark)
      System.err.println(f"[matrix] calib idle-check: shuffle=$s%.3f s")
      s
    }

    /** Drain session writeback until the shuffle probe returns to its
      * idle band (bounded): layout modes write a ~16 GB materialization
      * and the 1e9 oracle right before the rep loop, and the r9 cfg17
      * run showed the per-rep 1 s settle cannot absorb that tail — all
      * three reps measured under shuffle probes at 5-6× idle.
      */
    def settleUntilQuiet(): Unit = Calibration.settleUntilQuiet(spark, idleShuffle, "matrix")

    // per-rep memory telemetry: heap-in-use after the post-rep GC plus
    // process RSS — the rep-3 GC collapse (27.8 → 178 s, SCALING.md
    // round-7) was diagnosed from ps snapshots; log it from inside so
    // every session records the evidence
    def memLine(): String = {
      val rt = Runtime.getRuntime
      val heapGb = (rt.totalMemory() - rt.freeMemory()) / 1e9
      val rssGb = try {
        scala.io.Source.fromFile("/proc/self/status").getLines()
          .find(_.startsWith("VmRSS:"))
          .map(_.split("\\s+")(1).toLong / 1e6).getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
      // per-pool breakdown (round-9 verdict item 9): the aggregate
      // post-GC gauge drifts to ~77 GB in 1e9 sessions with no
      // rep-time correlation; the pool split attributes it — G1 Old
      // growth is retention, Eden/Survivor residue is just
      // not-yet-collected allocation under the pre-touched heap, and
      // humongous-dominated Old is the broadcast arrays
      val pools = try {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(p => f"${p.getName.replaceAll("G1 | Space", "")}=" +
            f"${p.getUsage.getUsed / 1e9}%.1fg")
          .mkString(" ")
      } catch { case _: Throwable => "" }
      f"heap=${heapGb}%.1fg rss=${rssGb}%.1fg $pools"
    }

    // autoflush: a multi-hour 1e9-scale session must not lose completed
    // rows if the process is killed mid-matrix
    val out = new java.io.PrintWriter(new java.io.FileWriter(outCsv, true), true)
    try {
      val all = part1Matrix(scale).zipWithIndex.map { case (c, i) => (c, 1, i + 1) } ++
        part2Matrix(scale).zipWithIndex.map { case (c, i) => (c, 2, i + 1) }
      for ((cfg, part, idx) <- all
           if (partFilter == "all" || partFilter == part.toString) &&
             cfg.innerTuples >= innerMin &&
             idxFilter.forall(_.contains(idx))) {
        val p1Bucketed = part == 1 && p1Plan == "bucketed"
        val p2Bucketed = part == 2 && p2Plan == "bucketed"
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        // one file per bucket (repartition on the bucket key with the
        // same hash the bucketizer uses), so the scan reports both the
        // HashPartitioning AND the per-bucket sort order; write cost is
        // logged — it is the one-time ingest price the layout amortizes
        // over every downstream grouped/joined query (SCALING.md table)
        def writeBucketedTable(df: org.apache.spark.sql.DataFrame,
            table: String, key: String): Unit = {
          val t0 = System.nanoTime()
          // a killed prior session leaves the warehouse dir without its
          // (in-memory derby) metastore entry; Overwrite can't reclaim a
          // location the catalog doesn't know about — clear both
          spark.sql(s"DROP TABLE IF EXISTS $table")
          val loc = new org.apache.hadoop.fs.Path(
            spark.sessionState.catalog.defaultTablePath(
              org.apache.spark.sql.catalyst.TableIdentifier(table)))
          loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
          df.repartition(buckets, col(key))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .bucketBy(buckets, key).sortBy(key).format("parquet")
            .saveAsTable(table)
          System.err.println(f"[bucketed-write] $table key=$key " +
            f"write=${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
        // UNCACHED generator plans, the planner-facing identity of this
        // config's relations: the layout modes register their written
        // layout against these plans (LayoutRegistry), and the timed
        // reps hand THESE to part2Adaptive — the planner must discover
        // the layout by routing, not by being handed the bucketed scan
        // (round-8 verdict item 1). Canonicalization makes a fresh
        // generator plan for the same config compare equal, and no job
        // ever runs over them on the routed path.
        val itemsRaw = Q4112Gen.items(spark, cfg).toDF()
        val ordersRaw = Q4112Gen.orders(spark, cfg).toDF()
        // materialize inputs BEFORE timing — the reference times
        // q4112_run over already-filled arrays (q4112_main.c:101-119,
        // SURVEY §2.5), so the timed section here is also engine-only
        val items =
          if (p1Bucketed) {
            // co-located join layout: BOTH sides bucketed + sorted on
            // the join key — the sort-merge join needs neither exchange
            // nor sort nor the driver-side dense/broadcast build. The
            // write is ingest-time input materialization (untimed,
            // logged), like the reference's untimed generator fill.
            writeBucketedTable(Q4112Gen.items(spark, cfg).toDF(), "items_bkt", "id")
            spark.table("items_bkt").as[graft.model.Item].cache()
          } else Q4112Gen.items(spark, cfg).cache()
        // NARROW CACHE (round 10, SCALING §6): every generated orders
        // value fits 32 bits (ids ≤ 1e8, quantities ≤ 99999), so the
        // cached columns can store as ints — halving the bytes the
        // timed reps stream, exactly the C's 4-byte column layout
        // (q4112.h). Aggregation stays 64-bit end-to-end: the operators
        // widen before any multiply/shift (the P1 contract), and the
        // oracle runs over the cast-back typed view of the SAME cache.
        // Ints are an ingest-time LAYOUT choice (like bucketing), and
        // the measured rule is PER WORKLOAD: part-1's scan-bound probe
        // gains up to 2.3× (median 1.52×→1.10× the C), while part-2's
        // accumulate-bound plans LOSE — the per-row widening cast in
        // the (group, v) hot path costs more than the bytes it saves
        // (median 1.15×→1.28×, SCALING §6 has both tables). So part 1
        // stores narrow (except on its bucketed layout) and part 2 wide.
        val narrow = part == 1 && !p1Bucketed
        val orders =
          if (p1Bucketed) {
            writeBucketedTable(Q4112Gen.orders(spark, cfg).toDF(), "orders_bkt", "itemId")
            spark.table("orders_bkt").as[graft.model.Order].cache()
          } else if (p2Bucketed) {
            // bucketed-layout variant: the probe table is STORED
            // clustered on the group key (Tables.writeBucketed's layout),
            // so the grouped aggregate needs no exchange at query time —
            // the 100 TB answer to the singleton-group shuffle, paid once
            // at ingest like any production fact-table layout.
            // part2Adaptive DETECTS this layout (Q4112.clusteredOn) and
            // takes the exchange-free path on its own.
            writeBucketedTable(Q4112Gen.orders(spark, cfg).toDF(), "orders_bkt", "storeId")
            spark.table("orders_bkt").as[graft.model.Order].cache()
          } else if (narrow) Q4112Gen.orders(spark, cfg) // the narrow DF below IS the cache
          else Q4112Gen.orders(spark, cfg).cache()
        // per-column bounds from the GENERATOR's contract: storeId ≤
        // groups ≤ 1e8 and quantity ≤ outerValMax = 99999 always fit;
        // itemId fits only at outer selectivity 1.0 — below it the
        // generator draws MISS keys far outside the inner range
        // (~1e12), so the join key stays long on those configs
        val itemIdFits = cfg.outerSelectivity >= 1.0
        val narrowCols =
          (if (itemIdFits) Seq("itemId") else Nil) ++ Seq("storeId", "quantity")
        val ordersQ: org.apache.spark.sql.DataFrame =
          if (narrow) graft.sources.Tables.narrowStored(
            orders.toDF().select(col("itemId"), col("storeId"), col("quantity")),
            narrowCols).cache()
          else orders.toDF()
        // the oracle's typed view: same cache, widened back to longs —
        // per the relation's OWN width metadata (Tables.StoredWidthKey),
        // not a re-derivation of which columns the ingest narrowed
        val ordersOracle =
          if (narrow) graft.sources.Tables.widened(ordersQ).as[graft.model.Order]
          else orders
        items.count(); ordersQ.count()
        // route, don't hand over: the bucketed layout is REGISTERED for
        // the raw relation, and the timed reps query the raw plan —
        // part2Adaptive discovers the layout itself (CSV plan column
        // reads bucketed_routed)
        if (p2Bucketed)
          graft.ops.LayoutRegistry.registerBucketed(ordersRaw, "storeId", orders.toDF())
        // composed two-layout experiment (round-6, cfg17): materialize
        // the JOINED slim projection (group, v) bucketed on the group
        // key — the dense-probe join runs once at ingest over the fat
        // 32-partition scan (the layout the join likes), and every later
        // aggregate is exchange-free over 256 buckets (the layout the
        // aggregate likes). The write is untimed + logged like every
        // other ingest-time layout; NOTE this materialization is
        // QUERY-SPECIFIC (it bakes in the join and projection), unlike
        // the orders-bucketed layout which serves any group-key query.
        if (part == 2 && p2Plan == "joined_bucketed")
          writeBucketedTable(
            Q4112.groupedValues(items.toDF(), orders.toDF(),
              "id", "itemId", "price", "quantity", "storeId"),
            "joined_bkt", "storeId")
        // independent oracle, computed once per config: collections on
        // the driver at small scale, the RDD path (still independent of
        // the Catalyst plan under test) once a collect would be abusive
        val oracle =
          if (part == 1 && p1Plan == "scan_floor") {
            // avg(quantity) over ALL orders rows — the diagnostic's own
            // oracle, via the plan-independent RDD path like every 1e9
            // oracle below
            val (s, c) = ordersOracle.rdd.mapPartitions { it =>
              var s = 0L; var c = 0L
              while (it.hasNext) { s += it.next().quantity; c += 1L }
              Iterator.single((s, c))
            }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
            if (c == 0L) None else Some(s / c)
          } else if (cfg.outerTuples <= 5000000L) {
            if (part == 1) Q4112Gen.oraclePart1(items.collect().toSeq, ordersOracle.collect().toSeq)
            else Q4112Gen.oracleFull(items.collect().toSeq, ordersOracle.collect().toSeq)
          } else {
            if (part == 1) Q4112Gen.oraclePart1Rdd(ordersOracle, cfg)
            // shared-memory CAS table (the reference's own algorithm):
            // the reduceByKey oracle OOMs at 1e8 singleton groups for
            // the same reason any partial-agg plan does
            else Q4112Gen.oracleFullCas(ordersOracle, cfg)
          }
        // joined_bucketed reps read ONLY the materialized joined_bkt
        // table — the two generator caches (~26 GB at 1e9) and the dense
        // broadcast built for the write (~800 MB at inner=1e8) are dead
        // weight from here on, and at 1e9 they were enough to push rep 3
        // into GC collapse (27.8 → 178 s, SCALING.md round-7). Release
        // them the moment the oracle (which needs the orders cache) is
        // computed, not at the config boundary.
        if (part == 2 && p2Plan == "joined_bucketed") {
          items.unpersist(blocking = true)
          orders.unpersist(blocking = true)
          Q4112.clearRelationCaches() // destroys the write-only dense broadcast
          // register AFTER the cache clear (which also clears the
          // registry): the joined (storeId, v) layout is keyed on the
          // raw generator plans, so the timed part2Adaptive calls over
          // the raw relations route straight to the exchange-free scan
          graft.ops.LayoutRegistry.registerJoined(
            itemsRaw, ordersRaw, "id", "itemId", "price", "quantity", "storeId",
            spark.table("joined_bkt"))
          System.gc()
        }
        // layout modes reach this point right after the materialization
        // write + the 1e9 oracle — wait out the writeback tail so rep 1
        // is not measured under the harness's own flush (see
        // settleUntilQuiet; probes still record the state reps ran under)
        if (p2Plan == "bucketed" || p2Plan == "joined_bucketed" || p1Bucketed)
          settleUntilQuiet()
        // the shuffle probe runs once per cell, before rep 1 (8-11 s a
        // probe on a 4-core host: per rep it cost more than the 1e-3
        // matrix's timed queries together); every row of the cell
        // carries its value in calib_shuffle
        val calibSh = Calibration.shuffle(spark)
        for (rep <- 1 to reps) {
          val calib = Calibration.cpu(spark)
          // settle between the probes and the timed rep: the shuffle
          // probe pushed ~1 GB through the shuffle dirs, and its dirty
          // pages may still be flushing when t0 starts — a sync
          // (best-effort) + short sleep drains the writeback so the
          // probe quantifies session load without contaminating the
          // measurement it annotates (ADVICE r8)
          Calibration.sync()
          Thread.sleep(1000)
          // reset AFTER the probes (which shuffle ~1 GB of their own):
          // the snapshot attributes the timed rep's tasks only
          repMetrics.reset()
          val t0 = System.nanoTime()
          val result =
            if (part == 1 && p1Plan == "scan_floor") {
              // pure scan+agg floor: one job, no join, no build —
              // whatever this costs is engine overhead every part-1
              // plan pays before any join work starts
              import org.apache.spark.sql.functions.{count, expr, lit, sum}
              val df = ordersQ
                .agg(sum(col("quantity")).as("s"), count(lit(1)).as("c"))
                .select(expr("s div c").as("avg_q"))
              df.collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
            } else if (part == 1) {
              // layout-aware planner: when the bucketed layout exists
              // (p1Bucketed wrote both tables bucketed on the join key),
              // part1Adaptive DETECTS the co-partitioned scans and runs
              // the co-located per-bucket hash join — NO exchange, NO
              // sort, no driver-side build; a 390k-entry build per
              // bucket, the Spark-native form of the reference's J4
              // (range-partitioned parallel build + probe, q4112_hj.c:
              // 163-183). SMJ was measured too: the cache drops the
              // per-bucket sort order, so SMJ re-sorts both sides.
              // Without the layout it keeps the measured default: the
              // dense array probe for a contiguous-key build side
              // (items.id is contiguous — q4112.h:14), broadcast hash
              // otherwise. Measured at outer=1e9: shuffled hash (J4's
              // parallel partitioned build) costs 287-744 s because the
              // 1e9-row probe side must shuffle through local disk;
              // broadcast hash runs a 1e8-row build side in ~104-229 s;
              // the dense probe beats both.
              val df = Q4112.part1Adaptive(items.toDF(), ordersQ,
                "id", "itemId", "price", "quantity")
              df.collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
            } else {
              // the adaptive planner over the config's relations: in
              // "auto" the cached relations (statistics decide); in the
              // layout modes the RAW generator plans, so the planner must
              // route to the registered layout itself — the CSV plan
              // column records what it chose (bucketed_routed /
              // joined_bucketed), proving the routing fired
              val df =
                if (p2Plan == "auto") Q4112.part2Adaptive(items.toDF(), ordersQ,
                  "id", "itemId", "price", "quantity", "storeId")
                else Q4112.part2Adaptive(itemsRaw, ordersRaw,
                  "id", "itemId", "price", "quantity", "storeId")
              df.collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
            }
          val ns = System.nanoTime() - t0
          assert(result == oracle,
            s"result $result != oracle $oracle for $cfg") // q4112_main.c:127
          // listener events post asynchronously (collect() returned, so
          // all jobs are done — only the bus can lag)
          bridge.drainListenerBus(spark.sparkContext)
          val io = repMetrics.totals
          val (shufWMb, shufRMb, spillMemMb, spillDiskMb) = (io.shuffleWriteBytes >> 20,
            io.shuffleReadBytes >> 20, io.memorySpillBytes >> 20, io.diskSpillBytes >> 20)
          repMetrics.stages.filter(_.taskMs >= 2000).foreach(st => System.err.println(st.line))
          // the plan column names the PHYSICAL plan that ran: the
          // planner's recorded choice (mode:choice), so a reader can
          // attribute auto-mode wins to a physical plan instead of the
          // literal "auto"
          val planLabel =
            if (part == 1 && p1Plan == "scan_floor") "scan_floor:scan"
            else s"${if (part == 1) p1Plan else p2Plan}:${Q4112.lastChosenPlan}"
          out.println(Seq(
            cfg.innerTuples, cfg.innerSelectivity, cfg.innerValMax,
            cfg.outerTuples, cfg.outerSelectivity, cfg.outerValMax,
            cfg.groups, cfg.hhGroups, cfg.hhProbability,
            cpus, rep, ns, planLabel, f"$calib%.3f", f"$calibSh%.3f",
            shufWMb, shufRMb, spillMemMb, spillDiskMb
          ).mkString(","))
          System.err.println(f"[matrix] part$part $cfg rep$rep: ${ns / 1e9}%.3f s " +
            f"ok calib=$calib%.3f calib_sh=$calibSh%.3f " +
            f"shufW=${shufWMb}MB shufR=${shufRMb}MB " +
            f"spill=${spillMemMb}/${spillDiskMb}MB ${memLine()}")
          // TWO GC cycles with a settle between them: the first lets
          // ContextCleaner's reference queue notice this rep's dead
          // query state (AQE broadcast exchanges, shuffle deps — each
          // rep makes fresh ones); the cleaner's removals are ASYNC, so
          // a single gc reclaims nothing the cleaner frees moments
          // later and rep 3 of a 1e9 config ran inside GC (27.8 → 178 s,
          // SCALING.md round-7). The second gc collects what the
          // cleaner just released before the next rep is timed.
          System.gc()
          Thread.sleep(2000)
          System.gc()
          Thread.sleep(500)
        }
        // blocking + an explicit GC: a 1e9-scale session caches ~26 GB
        // per config and builds multi-GB broadcast relations per rep;
        // async unpersist let dead blocks overlap the next config's
        // cache and the JVM died with SparkExitCode.OOM (56). The GC
        // also lets ContextCleaner reap unreferenced broadcasts.
        items.unpersist(blocking = true)
        orders.unpersist(blocking = true)
        if (narrow) ordersQ.unpersist(blocking = true)
        if (p1Bucketed || p2Bucketed) { // reclaim ~24 GB/config
          spark.sql("DROP TABLE IF EXISTS orders_bkt")
          spark.sql("DROP TABLE IF EXISTS items_bkt")
        }
        if (p2Plan == "joined_bucketed")
          spark.sql("DROP TABLE IF EXISTS joined_bkt")
        // the NEXT config's data replaces this one's (possibly under an
        // identical catalog-table plan) — relation-keyed caches must not
        // survive the boundary; this also destroys the per-config dense
        // broadcast (it now lives for a config's reps, not per rep)
        Q4112.clearRelationCaches()
        System.gc()
      }
    } finally out.close()
    spark.stop()
  }
}
