package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.FlajoletMartin
import graft.ops._
import graft.SparkEntry._

/** The aggregation library (§2.4) and the SQL surface: rollups,
  * cubes, pivots, top-k, windows, percentiles, distinct counts and
  * heavy hitters with their sketches, set operations, subqueries,
  * recursive and lateral SQL, and the scalar function families (JSON,
  * datetime, string, array, variant, map).
  */
private[graft] object AggregationQueries {

  /** sql_recursive_cyclic's simple-path depth cap, shared by the Spark
    * query and its DuckDB oracle so a future testdata change cannot
    * silently diverge the two recursions.
    */
  private val recursiveDepthCap = 6

  /** distinct_fm's counted key: injective (l_linenumber ∈ 1..7), so
    * its ndv = |lineitem|.
    */
  private val fmRowKey = (col("l_orderkey") * 10 + col("l_linenumber")).as("k")

  def records: Seq[Record] = Seq(
    Record("agg_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt")),
      oracle =
        """SELECT l_returnflag, l_linestatus,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Record("agg_salted_skew", (s, dir) =>
      Aggregates.saltedSumCount(t(s, dir, "lineitem"),
        col("l_suppkey"), floor(col("l_quantity"))),
      oracle =
        """SELECT l_suppkey AS k,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_value,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY l_suppkey""".stripMargin),
    Record("agg_topk_global", (s, dir) =>
      Aggregates.topK(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).as("price")),
        10, col("price").desc, col("l_orderkey").asc, col("l_linenumber").asc),
      oracle =
        """SELECT l_orderkey, l_linenumber, cast(floor(l_extendedprice) as bigint) AS price
          |FROM lineitem
          |ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC
          |LIMIT 10""".stripMargin),
    Record("agg_topk_per_group", (s, dir) =>
      Aggregates.topKPerGroup(
        // hash-repartition: the partial (map-side) top-k sort runs per
        // input partition and the single-file testdata scan yields ONE;
        // hash exchange (unlike round-robin) adds no pre-exchange sort
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), floor(col("l_extendedprice")).as("price"))
          .repartition(s.sparkContext.defaultParallelism, col("l_orderkey")),
        Seq(col("l_returnflag")), 3,
        col("price").desc, col("l_orderkey").asc, col("l_linenumber").asc),
      oracle =
        """SELECT l_returnflag, l_orderkey, l_linenumber, price FROM (
          |  SELECT l_returnflag, l_orderkey, l_linenumber,
          |         cast(floor(l_extendedprice) as bigint) AS price,
          |         row_number() OVER (PARTITION BY l_returnflag
          |           ORDER BY floor(l_extendedprice) DESC, l_orderkey ASC, l_linenumber ASC) AS rn
          |  FROM lineitem) WHERE rn <= 3""".stripMargin),
    // Spark 4.1's approx_top_k sketch (two-phase: per-partition
    // accumulate, merge, estimate). The quantity domain (~50 distinct)
    // sits far under maxItemsTracked, so the sketch is provably exact
    // here and the gate pins its output against the exact counts; the
    // emitted sum-of-top-5 counts is tie-permutation-invariant (ties
    // between equal counts may surface in any order)
    Record("agg_approx_topk", (s, dir) => {
      val sk = t(s, dir, "lineitem")
        .select(floor(col("l_quantity")).as("q"))
        .agg(expr("approx_top_k(q, 5, 4096)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.count").cast("long").as("cnt"))
        .agg(count(lit(1)).as("k"), sum(col("cnt")).as("top5_mass"))
      val exact = t(s, dir, "lineitem")
        .select(floor(col("l_quantity")).as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc).limit(5)
        .agg(sum(col("cnt")).as("exact_top5_mass"))
      sk.crossJoin(exact)
        .select(col("k"), col("exact_top5_mass"),
          (col("top5_mass") === col("exact_top5_mass")).as("topk_ok"))
    },
      // sketch gate (same recipe as distinct_fm): the oracle recomputes
      // the exact top-5 mass and expects the sketch's to equal it
      oracle =
        """SELECT cast(5 as bigint) AS k,
          |       (SELECT cast(sum(cnt) as bigint) FROM (
          |          SELECT count(*) AS cnt
          |          FROM lineitem GROUP BY cast(floor(l_quantity) as bigint)
          |          ORDER BY cnt DESC LIMIT 5)) AS exact_top5_mass,
          |       true AS topk_ok""".stripMargin),
    Record("agg_window_running", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // default RANGE frame: peers (tied order keys) share the cumulative
      // value, so the result is deterministic even with duplicate keys
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).as("qty"))
        .withColumn("running_qty", sum(col("qty")).over(w))
    },
      oracle =
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |       cast(floor(l_quantity) as bigint) AS qty,
          |       cast(sum(cast(floor(l_quantity) as bigint)) OVER (
          |         PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) as bigint) AS running_qty
          |FROM lineitem""".stripMargin),
    // cube: all grouping-set combinations of (returnflag, linestatus)
    Record("agg_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt")),
      oracle =
        """SELECT l_returnflag, l_linestatus,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    // pivot: per-returnflag quantity sums fanned across linestatus cols
    Record("agg_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          floor(col("l_quantity")).as("qty"))
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("qty"))),
      oracle =
        """SELECT l_returnflag,
          |       sum(cast(floor(l_quantity) as bigint))
          |         FILTER (l_linestatus = 'F')::BIGINT AS "F",
          |       sum(cast(floor(l_quantity) as bigint))
          |         FILTER (l_linestatus = 'O')::BIGINT AS "O"
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // explicit grouping sets (distinct from rollup/cube): per-flag,
    // per-status, and grand-total rows in one aggregate
    Record("agg_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       cast(grouping(l_returnflag) as bigint) AS g_flag,
          |       cast(grouping(l_linestatus) as bigint) AS g_status,
          |       sum(floor(l_quantity)) AS sum_qty, count(*) AS cnt
          |FROM gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
      oracle =
        """SELECT l_returnflag, l_linestatus,
          |       cast(grouping(l_returnflag) as bigint) AS g_flag,
          |       cast(grouping(l_linestatus) as bigint) AS g_status,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |       count(*) AS cnt
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    // unpivot/melt: wide metric columns to long (metric, value) rows
    Record("agg_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_quantity")).as("qty"),
          floor(col("l_extendedprice")).as("extprice"),
          floor(col("l_tax") * 100).as("tax_pct"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("extprice"), col("tax_pct")), "metric", "value")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("cnt")),
      oracle =
        """SELECT l_returnflag, metric,
          |       cast(sum(v) as bigint) AS sum_value, count(*) AS cnt
          |FROM (
          |  SELECT l_returnflag, 'qty' AS metric,
          |         cast(floor(l_quantity) as bigint) AS v FROM lineitem
          |  UNION ALL SELECT l_returnflag, 'extprice',
          |         cast(floor(l_extendedprice) as bigint) FROM lineitem
          |  UNION ALL SELECT l_returnflag, 'tax_pct',
          |         cast(floor(l_tax * 100) as bigint) FROM lineitem)
          |GROUP BY l_returnflag, metric""".stripMargin),
    // ntile + percent_rank over a total order (qty, orderkey, linenumber
    // — tie-free, so both window functions are deterministic)
    Record("window_ntile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("qty"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).as("qty"))
        // explicit repartition on the window key: AQE coalesces the
        // planner's window exchange to ONE partition at this data size,
        // serializing the three flags' full-order ntile/percent_rank
        // into one task; a user repartition is exempt, restoring the
        // operator's inherent per-flag parallelism (r12, §2.5/§2.6 —
        // see agg_weighted_percentile)
        .repartition(s.sparkContext.defaultParallelism, col("l_returnflag"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .groupBy(col("l_returnflag"), col("tile"))
        .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"),
          min(col("qty")).as("min_qty"), max(col("qty")).as("max_qty"),
          max(col("pr")).as("max_pr"))
    },
      oracle =
        """WITH r AS (
          |  SELECT l_returnflag, cast(floor(l_quantity) as bigint) AS qty,
          |         ntile(4) OVER w AS tile, percent_rank() OVER w AS pr
          |  FROM lineitem
          |  WINDOW w AS (PARTITION BY l_returnflag
          |               ORDER BY cast(floor(l_quantity) as bigint),
          |                        l_orderkey, l_linenumber))
          |SELECT l_returnflag, cast(tile as bigint) AS tile, count(*) AS cnt,
          |       cast(sum(qty) as bigint) AS sum_qty,
          |       min(qty) AS min_qty, max(qty) AS max_qty, max(pr) AS max_pr
          |FROM r GROUP BY 1, 2""".stripMargin),
    // event-time RANGE frame: per event, activity in the trailing 10 min
    // (peers at equal ts_ms are all included — frame is tie-insensitive)
    Record("window_range_frame", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-600000L, 0L)
      Engine.eventsTable(s, dir)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          floor(col("value") * 1000).cast("long").as("value_milli"))
        .withColumn("n_prev_10m", count(lit(1)).over(w))
        .withColumn("sum_value_milli_10m", sum(col("value_milli")).over(w))
        .drop("value_milli")
    },
      oracle =
        """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
          |       count(*) OVER w AS n_prev_10m,
          |       cast(sum(cast(floor(value * 1000) as bigint)) OVER w as bigint)
          |         AS sum_value_milli_10m
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
          |             RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)""".stripMargin),
    // first/last/nth over an explicit full frame (constants per
    // partition under the total order → 3 distinct rows)
    // first/last/nth over an unbounded frame are order statistics of a
    // TOTAL order ((qty, orderkey, linenumber) is unique), so first and
    // third are rank-1/rank-3 under ONE ascending window whose rk ≤ 3
    // filter compiles to WindowGroupLimit (3 candidate rows per
    // partition per map task cross the exchange, not the whole table —
    // optimization round 11, guide §2.3), and last is a plain
    // partial-aggregable max over the (qty, orderkey, linenumber)
    // struct — no second window, no full-partition buffering anywhere.
    // nth_value's null-when-short semantics survive (a flag with < 3
    // rows has no rk = 3 row, so the max(when) is NULL).
    Record("window_firstlast", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).as("qty"))
      val wAsc = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("qty"), col("l_orderkey"), col("l_linenumber"))
      val headAgg = base.withColumn("rk", row_number().over(wAsc))
        .filter(col("rk") <= 3)
        .groupBy(col("l_returnflag"))
        .agg(max(when(col("rk") === 1, col("qty"))).as("first_qty"),
          max(when(col("rk") === 3, col("qty"))).as("third_qty"))
      val tailAgg = base
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("qty"), col("l_orderkey"), col("l_linenumber")))
          .as("m"))
        .select(col("l_returnflag"), col("m.qty").as("last_qty"))
      headAgg.join(tailAgg, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("first_qty"), col("last_qty"),
          col("third_qty"))
    },
      oracle =
        """SELECT DISTINCT l_returnflag,
          |       first_value(qty) OVER w AS first_qty,
          |       last_value(qty) OVER w AS last_qty,
          |       nth_value(qty, 3) OVER w AS third_qty
          |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
          |             cast(floor(l_quantity) as bigint) AS qty FROM lineitem)
          |WINDOW w AS (PARTITION BY l_returnflag
          |             ORDER BY qty, l_orderkey, l_linenumber
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    // SQL subquery machinery: CTE + EXISTS (→ semi join) + scalar
    // subquery (→ one-row broadcast), all through the parser
    Record("sql_subqueries", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("sq_customer")
      t(s, dir, "orders").createOrReplaceTempView("sq_orders")
      s.sql(
        """WITH big AS (SELECT o_custkey, count(*) AS n_orders
          |             FROM sq_orders GROUP BY o_custkey)
          |SELECT c.c_custkey, b.n_orders
          |FROM sq_customer c JOIN big b ON c.c_custkey = b.o_custkey
          |WHERE EXISTS (
          |  SELECT 1 FROM sq_orders o
          |  WHERE o.o_custkey = c.c_custkey
          |    AND o.o_totalprice * 2 > (SELECT max(o_totalprice) FROM sq_orders))""".stripMargin)
    },
      oracle =
        """WITH big AS (SELECT o_custkey, count(*) AS n_orders
          |             FROM orders GROUP BY o_custkey)
          |SELECT c.c_custkey, b.n_orders
          |FROM customer c JOIN big b ON c.c_custkey = b.o_custkey
          |WHERE EXISTS (
          |  SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey
          |    AND o.o_totalprice * 2 > (SELECT max(o_totalprice) FROM orders))""".stripMargin),
    // VARIANT semi-structured surface (Spark 4): parse the JSON props
    // column ONCE into a variant, extract typed fields from the binary
    // encoding — the modern replacement for repeated get_json_object
    // string re-parses. try_parse_json (not strict parse_json) so a
    // malformed row yields NULL k instead of failing the query — the
    // same lenient null semantics as the oracle's json_extract_string.
    // Gate: typed extraction + per-type aggregate the oracle recomputes
    // with its own JSON reader
    Record("func_variant", (s, dir) =>
      Engine.eventsTable(s, dir)
        .filter(col("props").isNotNull)
        .select(col("event_type"),
          try_variant_get(try_parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      oracle =
        """SELECT event_type, count(*) AS n,
          |       cast(sum(k) as bigint) AS sum_k,
          |       min(k) AS min_k, max(k) AS max_k
          |FROM (SELECT event_type,
          |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |      FROM events WHERE props IS NOT NULL)
          |GROUP BY event_type""".stripMargin),
    // the HARD variant case: a HETEROGENEOUS variant — an array mixing
    // long / string / nested object, plus a nested object branch — all
    // parsed once and extracted by typed path (array index, nested
    // field, wrong-type probe). The JSON is constructed from base
    // columns so the oracle can recompute every extraction without a
    // JSON reader: sum_a0/sum_d prove the long extractions, s_ok proves
    // the nested string path, n_wrong_nonnull proves try_variant_get
    // yields NULL (not an error, not a coercion) when the target type
    // mismatches the actual element ('$.a[1]' is a string)
    Record("func_variant_array", (s, dir) => {
      val vk = floor(col("value") * 1000).cast("long")
      // the "b" branch is emitted by to_json(struct(...)) — a
      // JSON-producing function, so an event_type containing a quote or
      // backslash is escaped instead of breaking parse_json (the
      // heterogeneous "a" array has no string-valued dynamic parts, so
      // raw concat is safe there). ignoreNullFields=false keeps the "s"
      // field present as JSON null for a NULL event_type, and the s_ok
      // comparison below is null-safe (<=>) so the null round-trips as
      // "extracted s equals source" instead of flipping the gate
      val j = concat(lit("{\"a\": ["), vk, lit(", \"t\", {\"d\": "),
        (vk + lit(7L)), lit("}], \"b\": "),
        to_json(struct(col("event_type").as("s")),
          Map("ignoreNullFields" -> "false")), lit("}"))
      // build the variant in its OWN projection (optimization round 11):
      // inlined into the consuming select, the concat + to_json +
      // parse_json subtree is copied into all four variant_get columns —
      // CollapseProject keeps a multiply-referenced non-cheap alias in
      // its own Project, so this materializes the variant once per row
      val v = parse_json(j)
      // project to the two source columns and spread them across cores
      // BEFORE the variant build (optimization round 12, guide §2.6):
      // the whole row cost is the JSON construct + parse_json + four
      // variant_gets (~35 µs/row — measured 2.08 s in ONE task, the
      // single-split local scan), so the ~30 B/row exchange buys a
      // cores-wide variant stage; no-op at scale (see spreadForCpu)
      spreadForCpu(Engine.eventsTable(s, dir)
          .select(col("event_type"), col("value")), col("value"))
        .select(col("event_type"), v.as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.a[0]", "long").as("a0"),
          variant_get(col("v"), "$.a[2].d", "long").as("d"),
          variant_get(col("v"), "$.b.s", "string").as("sv"),
          try_variant_get(col("v"), "$.a[1]", "long").as("wrong"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("a0")).as("sum_a0"),
          sum(col("d")).as("sum_d"),
          sum(when(col("wrong").isNotNull, 1L).otherwise(0L)).as("n_wrong_nonnull"),
          sum(when(col("sv") <=> col("event_type"), 0L).otherwise(1L)).as("bad_s"))
        .select(col("event_type"), col("n"), col("sum_a0"), col("sum_d"),
          col("n_wrong_nonnull"), (col("bad_s") === 0L).as("s_ok"))
    },
      oracle =
        """SELECT event_type, count(*) AS n,
          |       cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS sum_a0,
          |       cast(sum(cast(floor(value * 1000) as bigint) + 7) as bigint) AS sum_d,
          |       cast(0 as bigint) AS n_wrong_nonnull,
          |       true AS s_ok
          |FROM events GROUP BY 1""".stripMargin),
    // map-type scalar surface: build a map per row, transform its
    // values with a lambda HOF, read entries back — the gate flattens
    // everything to longs the oracle recomputes from the base columns,
    // proving the map construction/transform/lookup round-trip
    Record("func_map", (s, dir) => {
      val m = map(
        lit("q"), floor(col("l_quantity")),
        lit("p"), floor(col("l_extendedprice")))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), m.as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          size(col("m")).cast("long").as("n_entries"),
          element_at(col("m"), "q").as("q_val"),
          element_at(transform_values(col("m"), (_, v) => v * 2), "p")
            .as("p_doubled"))
    },
      oracle =
        """SELECT l_orderkey, l_linenumber,
          |       CAST(2 AS BIGINT) AS n_entries,
          |       cast(floor(l_quantity) as bigint) AS q_val,
          |       cast(floor(l_extendedprice) as bigint) * 2 AS p_doubled
          |FROM lineitem""".stripMargin),
    // WITH RECURSIVE through the parser (new SQL machinery in Spark 4):
    // walk the synthetic parent chain k → k div 2 → … → 0 over the
    // nation keys — per node, depth to root and the ancestor-key sum.
    // Each recursion step is one self-join plan iteration; the identical
    // SQL runs on the oracle engine
    Record("sql_recursive", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("rc_nation")
      s.sql(
        """WITH RECURSIVE chain(node, cur, depth) AS (
          |  SELECT n_nationkey, CAST(n_nationkey AS BIGINT), 0 FROM rc_nation
          |  UNION ALL
          |  SELECT node, cur DIV 2, depth + 1 FROM chain WHERE cur > 0)
          |SELECT node, max(depth) AS depth_to_root,
          |       sum(cur) AS ancestor_key_sum
          |FROM chain GROUP BY node""".stripMargin)
    },
      oracle =
        """WITH RECURSIVE chain(node, cur, depth) AS (
          |  SELECT n_nationkey, CAST(n_nationkey AS BIGINT), 0 FROM nation
          |  UNION ALL
          |  SELECT node, cur // 2, depth + 1 FROM chain WHERE cur > 0)
          |SELECT node, max(depth) AS depth_to_root,
          |       cast(sum(cur) as bigint) AS ancestor_key_sum
          |FROM chain GROUP BY node""".stripMargin),
    // the HARD recursive case: transitive closure over a deliberately
    // CYCLIC graph (functional graph with 2 out-edges per node, incl. a
    // self-loop at node 24) — naive recursion never terminates; the
    // simple-path guard (NOT array_contains(path, dst)) plus a depth cap
    // makes the fixed point finite. This is the cycle-guarded recursion
    // pattern (frontier join per round; the path array is the visited
    // set, carried per row — no global state)
    Record("sql_recursive_cyclic", (s, dir) => {
      // STATIC UNROLL of the cycle-guarded recursion (optimization round
      // 12, guide §2-fixed-cost): the depth cap is a compile-time
      // constant shared with the DuckDB oracle (recursiveDepthCap), so
      // the WITH RECURSIVE fixpoint is exactly `cap − 1` frontier
      // expansions — unrolled, the whole query is ONE plan whose five
      // joins all broadcast the same 50-row edge relation (plan:
      // ReusedExchange), where the engine's UnionLoop executed each
      // round as its own jobs (measured: ~50 jobs / 128 stages of
      // 10-30 ms fixed cost each, 2.3 s for an 800-row reach set; the
      // unrolled form is one job). Row-for-row identical by
      // construction: level_i is the i-step frontier bag (UNION ALL
      // semantics — Dataset.union), the simple-path guard and the
      // depth cap are the same predicates, and the final aggregate is
      // unchanged; the oracle still replays its own WITH RECURSIVE.
      val nk = col("n_nationkey")
      val nation = t(s, dir, "nation")
      val edges = nation.select(nk.as("src"), ((nk * 2 + 1) % 25).as("dst"))
        .union(nation.select(nk.as("src"), ((nk * 3 + 2) % 25).as("dst")))
      var level = nation.select(nk.as("start"), nk.as("node"),
        array(nk).as("path"))
      var reach = level
      for (i <- 1 until recursiveDepthCap) {
        level = level.join(edges, col("node") === col("src"))
          .filter(!array_contains(col("path"), col("dst")))
          .select(col("start"), col("dst").as("node"),
            array_append(col("path"), col("dst")).as("path"))
        // truncate lineage every second level: without it level_i's plan
        // re-embeds every previous join into both the union and the next
        // level (Σi joins ≈ quadratic plan growth), and the rep cost was
        // measured 80% DRIVER-side planning (guide §7.3 — large plans),
        // 0.9 s of a 1.1 s rep. The checkpointed frontier is ≤ a few
        // hundred slim rows.
        if (i % 2 == 0 && i < recursiveDepthCap - 1)
          level = level.localCheckpoint(true)
        reach = reach.union(level)
      }
      reach.groupBy(col("start"))
        .agg(countDistinct(col("node")).as("n_reachable"),
          max(size(col("path"))).as("max_path_len"))
    },
      oracle =
        s"""WITH RECURSIVE reach(start, node, path) AS (
          |    SELECT n_nationkey, n_nationkey, [n_nationkey]
          |    FROM nation
          |  UNION ALL
          |    SELECT r.start, e.dst, list_append(r.path, e.dst)
          |    FROM reach r JOIN (
          |      SELECT n_nationkey AS src, (2 * n_nationkey + 1) % 25 AS dst
          |      FROM nation
          |      UNION ALL
          |      SELECT n_nationkey, (3 * n_nationkey + 2) % 25 FROM nation
          |    ) e ON r.node = e.src
          |    WHERE NOT list_contains(r.path, e.dst)
          |      AND len(r.path) < $recursiveDepthCap)
          |SELECT start, count(DISTINCT node) AS n_reachable,
          |       cast(max(len(path)) as bigint) AS max_path_len
          |FROM reach GROUP BY start""".stripMargin),
    // fixed-width integer histogram (group on a computed bucket key —
    // single shuffle, min/max/count per bucket)
    Record("agg_histogram", (s, dir) =>
      t(s, dir, "lineitem")
        .select(floor(col("l_quantity")).cast("long").as("q"))
        .groupBy(expr("q div 5").as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("q")).as("min_q"),
          max(col("q")).as("max_q")),
      oracle =
        """SELECT cast(floor(l_quantity) as bigint) // 5 AS bucket, count(*) AS n,
          |       min(cast(floor(l_quantity) as bigint)) AS min_q,
          |       max(cast(floor(l_quantity) as bigint)) AS max_q
          |FROM lineitem
          |GROUP BY 1""".stripMargin),
    // exact interpolated percentiles (percentile_cont semantics)
    Record("agg_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), floor(col("l_quantity")).as("qty"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(qty, 0.25)").as("p25"),
          expr("percentile(qty, 0.5)").as("p50"),
          expr("percentile(qty, 0.95)").as("p95")),
      oracle =
        """SELECT l_returnflag,
          |       quantile_cont(floor(l_quantity), 0.25) AS p25,
          |       quantile_cont(floor(l_quantity), 0.5) AS p50,
          |       quantile_cont(floor(l_quantity), 0.95) AS p95
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // sketch quantiles: Greenwald-Khanna approx_percentile — the scale
    // path when an exact percentile's full sort-per-group is too costly;
    // mergeable partials, one pass, bounded error (accuracy 10000 →
    // ±0.01%). Sketch internals aren't engine-portable, so like the
    // FM/HLL sketches this gets a rows-only driver check; the ScalaTest
    // spec asserts each value against the exact percentile within the
    // sketch's rank-error bound
    // upgraded from rows-only to a CHECKED INVARIANT: emits the exact
    // percentiles plus a boolean asserting every sketch value is within
    // ±1 of exact (accuracy 10000 → rank error ≤ N·1e-4, far below one
    // value step on this data); oracle recomputes exact and expects true.
    // mergeable bottom-k-priority QUANTILE SAMPLE — the quantile member
    // of the sketch suite (distinct: FM/HLL/KMV; frequency: CMS; set
    // overlap: KMV theta). The sketch is the 1024 rows with smallest
    // md5(event_id) priority: order-insensitive, mergeable (bottom-k of
    // a union = merge of bottom-ks — Spark executes it as distributed
    // TakeOrdered, i.e. per-partition sketches + driver merge), and
    // content-deterministic, so the oracle replays the SAME sample and
    // the estimates hash-gate exactly. Type-1 sample quantiles under
    // the (v, event_id) total order; the p*_ok booleans pin the DKW
    // rank-error contract |rank(est)/n − q| ≤ 0.08 in exact integer
    // cross-multiplied form (k=1024 → violation odds ~2e-6; measured
    // deviations ≤ 0.049 across sfs, ties included)
    Record("agg_quantile_sample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Engine.eventsTable(s, dir)
      val pri = conv(substring(md5(col("event_id").cast("string")), 1, 8),
        16, 10).cast("long")
      val sample = ev
        .select(floor(col("value")).cast("long").as("v"),
          col("event_id"), pri.as("p"))
        .orderBy(col("p").asc, col("event_id").asc).limit(1024)
      val w = Window.orderBy(col("v").asc, col("event_id").asc)
      val ranked = sample.withColumn("rk", row_number().over(w))
        .withColumn("m", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val est = ranked.agg(
        max(when(col("rk") === ceil(lit(0.5) * col("m")), col("v"))).as("p50_est"),
        max(when(col("rk") === ceil(lit(0.9) * col("m")), col("v"))).as("p90_est"),
        max(when(col("rk") === ceil(lit(0.99) * col("m")), col("v"))).as("p99_est"))
      ev.select(floor(col("value")).cast("long").as("v")).crossJoin(est)
        .agg(count(lit(1)).as("n"),
          max(col("p50_est")).as("p50_est"),
          max(col("p90_est")).as("p90_est"),
          max(col("p99_est")).as("p99_est"),
          (abs(lit(100L) * sum(when(col("v") <= col("p50_est"), 1L).otherwise(0L))
            - lit(50L) * count(lit(1))) <= lit(8L) * count(lit(1))).as("p50_ok"),
          (abs(lit(100L) * sum(when(col("v") <= col("p90_est"), 1L).otherwise(0L))
            - lit(90L) * count(lit(1))) <= lit(8L) * count(lit(1))).as("p90_ok"),
          (abs(lit(100L) * sum(when(col("v") <= col("p99_est"), 1L).otherwise(0L))
            - lit(99L) * count(lit(1))) <= lit(8L) * count(lit(1))).as("p99_ok"))
    },
      // identical sample (same md5 priority, same LIMIT), identical
      // type-1 quantile definition, identical integer DKW bound
      oracle =
        """WITH s AS (
          |  SELECT cast(floor(value) as bigint) AS v, event_id
          |  FROM events
          |  ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
          |           event_id ASC
          |  LIMIT 1024),
          |r AS (SELECT v, row_number() OVER (ORDER BY v ASC, event_id ASC) AS rk,
          |             count(*) OVER () AS m FROM s),
          |est AS (SELECT
          |  max(CASE WHEN rk = ceil(0.5 * m) THEN v END) AS p50_est,
          |  max(CASE WHEN rk = ceil(0.9 * m) THEN v END) AS p90_est,
          |  max(CASE WHEN rk = ceil(0.99 * m) THEN v END) AS p99_est FROM r),
          |f AS (SELECT cast(floor(value) as bigint) AS v FROM events)
          |SELECT count(*) AS n,
          |       max(e.p50_est) AS p50_est, max(e.p90_est) AS p90_est,
          |       max(e.p99_est) AS p99_est,
          |       (abs(100 * sum(CASE WHEN f.v <= e.p50_est THEN 1 ELSE 0 END)
          |            - 50 * count(*)) <= 8 * count(*)) AS p50_ok,
          |       (abs(100 * sum(CASE WHEN f.v <= e.p90_est THEN 1 ELSE 0 END)
          |            - 90 * count(*)) <= 8 * count(*)) AS p90_ok,
          |       (abs(100 * sum(CASE WHEN f.v <= e.p99_est THEN 1 ELSE 0 END)
          |            - 99 * count(*)) <= 8 * count(*)) AS p99_ok
          |FROM f CROSS JOIN est e""".stripMargin),
    // The emitted exact percentiles are rounded to 6 decimals: both
    // engines interpolate linearly but may differ in the last ulp of
    // a + f·(b−a), and this is a hash-exact gate
    Record("agg_percentile_approx", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), floor(col("l_quantity")).as("qty"))
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(qty, array(0.25, 0.5, 0.95), 10000)").as("pcts"),
          expr("round(percentile(qty, 0.25), 6)").as("p25"),
          expr("round(percentile(qty, 0.5), 6)").as("p50"),
          expr("round(percentile(qty, 0.95), 6)").as("p95"))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p95"),
          (abs(element_at(col("pcts"), 1) - col("p25")) <= 1.0 &&
            abs(element_at(col("pcts"), 2) - col("p50")) <= 1.0 &&
            abs(element_at(col("pcts"), 3) - col("p95")) <= 1.0).as("approx_ok")),
      oracle =
        """SELECT l_returnflag,
          |       round(quantile_cont(floor(l_quantity), 0.25), 6) AS p25,
          |       round(quantile_cont(floor(l_quantity), 0.5), 6) AS p50,
          |       round(quantile_cont(floor(l_quantity), 0.95), 6) AS p95,
          |       true AS approx_ok
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // set operations: customers with orders ∩ BUILDING segment,
    // minus negative-balance accounts
    Record("set_ops", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val negative = t(s, dir, "customer")
        .filter(col("c_acctbal") < 0).select(col("c_custkey"))
      o.intersect(building).except(negative)
    },
      oracle =
        """(SELECT o_custkey FROM orders
          | INTERSECT
          | SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          |EXCEPT
          |SELECT c_custkey FROM customer WHERE c_acctbal < 0""".stripMargin),
    // the BAG (multiset) set operators — INTERSECT ALL keeps the
    // minimum multiplicity, EXCEPT ALL subtracts multiplicities, which
    // the distinct forms above erase. Output keeps (key, multiplicity)
    // per op so the bag semantics are hash-visible; orders custkeys
    // carry real duplicate multiplicities against a two-slice customer
    // side that itself has multiplicity 2 for the overlap
    Record("set_ops_all", (s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val c = t(s, dir, "customer")
      val b = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
        .union(c.filter(col("c_mktsegment") === "BUILDING" &&
          col("c_acctbal") > 5000).select(col("c_custkey").as("k")))
      val inter = a.intersectAll(b).groupBy(col("k"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val exc = a.exceptAll(b).groupBy(col("k"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      inter.union(exc).select(col("op"), col("k"), col("n"))
    },
      oracle =
        """WITH a AS (SELECT o_custkey AS k FROM orders),
          |b AS (SELECT c_custkey AS k FROM customer
          |      WHERE c_mktsegment = 'BUILDING'
          |      UNION ALL
          |      SELECT c_custkey FROM customer
          |      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000),
          |i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
          |x AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
          |SELECT 'intersect_all' AS op, k, count(*) AS n FROM i GROUP BY k
          |UNION ALL
          |SELECT 'except_all' AS op, k, count(*) AS n FROM x GROUP BY k""".stripMargin),
    // EXACT distinct via 64-bit bitmap chunks — the dense-int-domain
    // OLAP technique roaring bitmaps generalize: bucket = key div 64,
    // per (group, bucket) bit_or of (1 << key mod 64), then
    // sum(bit_count) — every stage a plain partial-aggregable integer
    // aggregate, mergeable across any partitioning, no hashing and no
    // sort (countDistinct plans an extra dedup exchange; the bitmap
    // form is two HashAggregates). eq_ok pins it against countDistinct
    // in both engines
    Record("distinct_bitmap", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_partkey"))
      val bm = li
        .withColumn("bucket", expr("l_partkey div 64"))
        .withColumn("bit", expr("shiftleft(1L, cast(pmod(l_partkey, 64) as int))"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(expr("bit_or(bit)").as("w"))
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("bit_count(w)")).cast("long").as("ndv_bitmap"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("ndv_exact"))
      bm.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("ndv_bitmap"),
          (col("ndv_bitmap") === col("ndv_exact")).as("eq_ok"))
    },
      oracle =
        """WITH li AS (SELECT l_returnflag, l_partkey FROM lineitem),
          |bm AS (
          |  SELECT l_returnflag, l_partkey // 64 AS bucket,
          |         bit_or(1::UBIGINT << cast(l_partkey % 64 as int)) AS w
          |  FROM li GROUP BY 1, 2),
          |n AS (
          |  SELECT l_returnflag,
          |         cast(sum(bit_count(w)) as bigint) AS ndv_bitmap
          |  FROM bm GROUP BY 1),
          |e AS (
          |  SELECT l_returnflag, count(DISTINCT l_partkey) AS ndv_exact
          |  FROM li GROUP BY 1)
          |SELECT n.l_returnflag, ndv_bitmap,
          |       (ndv_bitmap = ndv_exact) AS eq_ok
          |FROM n JOIN e ON n.l_returnflag = e.l_returnflag""".stripMargin),
    // the SQL PIVOT clause through the parser (agg_pivot covers the
    // DataFrame groupBy().pivot() API; users also write the SQL form) —
    // order-sum per status pivoted across three fixed priorities, CASE
    // aggregation in the oracle (the semantics, not the syntax, is the
    // contract)
    Record("sql_pivot", (s, dir) => {
      Engine.table(s, dir, "orders").createOrReplaceTempView("pv_orders")
      s.sql(
        """SELECT * FROM (
          |  SELECT o_orderstatus,
          |         substring(o_orderpriority, 1, 1) AS prio,
          |         cast(floor(o_totalprice) as bigint) AS v
          |  FROM pv_orders)
          |PIVOT (sum(v) AS s FOR prio IN ('1' AS p1, '2' AS p2, '3' AS p3))""".stripMargin)
    },
      oracle =
        """WITH b AS (
          |  SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio,
          |         cast(floor(o_totalprice) as bigint) AS v
          |  FROM orders)
          |SELECT o_orderstatus,
          |       cast(sum(CASE WHEN prio = '1' THEN v END) as bigint) AS p1,
          |       cast(sum(CASE WHEN prio = '2' THEN v END) as bigint) AS p2,
          |       cast(sum(CASE WHEN prio = '3' THEN v END) as bigint) AS p3
          |FROM b GROUP BY o_orderstatus""".stripMargin),
    // exact WEIGHTED median (lower): collapse ties first ((group,
    // value) weight aggregate — the shuffle carries one row per
    // distinct value, not per input row), then a running weight sum in
    // value order picks the first value where 2·cum ≥ total. All
    // integer, deterministic, replayable — where the float
    // interpolation form (percentile(col, 0.5, weight)) is neither
    // order-free nor engine-portable
    Record("agg_weighted_percentile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("v"),
          floor(col("l_quantity")).cast("long").as("w"))
        .groupBy(col("l_returnflag"), col("v"))
        .agg(sum(col("w")).as("w"))
      val wOrd = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("l_returnflag"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // explicit hash repartition on the window key: the planner's own
      // exchange here is tiny enough that AQE coalesces it to ONE
      // partition, serializing all three flags' running sums into one
      // task (profiled: a 0.5 s single-task window stage). A
      // user-specified repartition is exempt from coalescing, so the
      // per-flag windows keep the operator's inherent 3-way parallelism
      // — same exchange count, and a no-op change at scale where the
      // exchange exceeds the advisory size anyway (r12, guide §2.5/§2.6)
      g.repartition(s.sparkContext.defaultParallelism, col("l_returnflag"))
        .withColumn("cum", sum(col("w")).over(wOrd))
        .withColumn("tot", sum(col("w")).over(wTot))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("v")).as("w_median"), max(col("tot")).as("total_weight"))
    },
      oracle =
        """WITH g AS (
          |  SELECT l_returnflag, cast(floor(l_extendedprice) as bigint) AS v,
          |         cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS w
          |  FROM lineitem GROUP BY 1, 2),
          |c AS (
          |  SELECT l_returnflag, v, w,
          |         cast(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           as bigint) AS cum,
          |         cast(sum(w) OVER (PARTITION BY l_returnflag) as bigint) AS tot
          |  FROM g)
          |SELECT l_returnflag, cast(min(v) as bigint) AS w_median,
          |       cast(max(tot) as bigint) AS total_weight
          |FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag""".stripMargin),
    Record("distinct_exact", (s, dir) =>
      Aggregates.distinctExact(t(s, dir, "lineitem"), col("l_returnflag"), col("l_partkey")),
      oracle =
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // KMV (bottom-k theta) distinct-count sketch — unlike FM/HLL the
    // priorities are md5-derived and engine-portable, so the DuckDB
    // oracle recomputes the ESTIMATE itself bit-for-bit (a hash-checked
    // sketch, not a bounds-gated one); the check's err_ok additionally
    // pins the estimate within ±25% of exact (k=256 ⇒ σ ≈ 6.3%, so
    // ±25% ≈ 4σ). A pre-sketch spread of the md5-priority kernel (the
    // 3-split scan ran the bounded-TreeSet pass in 3 tasks / 0.69 s
    // wall, JobProf) was tried and REVERTED (r12): c32 minimums were
    // inconclusive (0.80/0.94 spread vs 0.91 unspread on a noisy box)
    // and the spread turned the row ANTI-scaling (c8/c32 0.68 — 32 tiny
    // post-exchange tasks pay more dispatch than the ~0.7 s of md5 they
    // split; the unspread form had ratio ~0.95).
    Record("distinct_kmv", (s, dir) =>
      Kmv.ndvEstimate(
        Kmv.sketch(t(s, dir, "lineitem"), col("l_orderkey"), 256), 256),
      check = Some((s, dir, run) =>
        run.crossJoin(t(s, dir, "lineitem").agg(countDistinct(col("l_orderkey")).as("ndv_exact")))
          .select(col("ndv_est"), col("ndv_exact"),
            (abs(col("ndv_est") - col("ndv_exact")) * 100
              <= col("ndv_exact") * 25).as("err_ok"))),
      // KMV: md5 priorities are engine-portable, so the oracle replays
      // the WHOLE estimator (not just the exact side + a true literal)
      oracle =
        """WITH p AS (SELECT DISTINCT
          |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS pri
          |  FROM lineitem),
          |sk AS (SELECT pri FROM p ORDER BY pri LIMIT 256),
          |st AS (SELECT count(*) AS n_sk, max(pri) AS v_k FROM sk),
          |est AS (SELECT CASE WHEN n_sk < 256 THEN CAST(n_sk AS BIGINT)
          |    ELSE CAST((255::HUGEINT * 1152921504606846976::HUGEINT) // v_k AS BIGINT)
          |  END AS ndv_est FROM st),
          |e AS (SELECT count(DISTINCT l_orderkey) AS exact FROM lineitem)
          |SELECT ndv_est, CAST(exact AS BIGINT) AS ndv_exact,
          |       abs(ndv_est - exact) * 100 <= exact * 25 AS err_ok
          |FROM est, e""".stripMargin),
    // A5: FM/PCSA estimator (reference-faithful), upgraded from a
    // rows-only check to a CHECKED INVARIANT: the query emits the exact
    // ndv plus a boolean asserting the FM output honours its sizing
    // contract — the oracle recomputes the exact ndv and expects `true`,
    // so a broken sketch (wrong PHI, bad merge, dropped partitions)
    // fails the hash gate. Two deliberate properties shape the bound:
    // the output is ROUNDED UP TO A POWER OF TWO (q4112.c:356-371 — the
    // reference sizes a hash table from it), so it sits up to 2× above
    // the raw estimate; and the sketch is sized to the data (2^8
    // partitions, rsd ≈ 5%, accurate from ~4k ndv — the 2^12 default is
    // sized for the 1e8+-group matrix configs). Raw-estimate error ±30%
    // and 2× quantization compose to the gate exact/2 ≤ fm ≤ 4·exact;
    // unit/property tests cover raw tightness elsewhere. The counted key
    // (l_orderkey*10 + l_linenumber) is injective (l_linenumber ∈ 1..7),
    // so ndv = |lineitem|.
    Record("distinct_fm", (s, dir) =>
      t(s, dir, "lineitem").select(fmRowKey)
        .agg(FlajoletMartin.fmCountDistinct(col("k"), logPartitions = 8).as("fm")),
      check = Some((s, dir, run) =>
        run.crossJoin(t(s, dir, "lineitem").select(fmRowKey)
            .agg(countDistinct(col("k")).as("n_distinct_rowkey")))
          .select(col("n_distinct_rowkey"),
            (col("fm") >= col("n_distinct_rowkey") / 2 &&
              col("fm") <= col("n_distinct_rowkey") * 4).as("fm_ok"))),
      // sketch-invariant gates: the oracle recomputes the exact ndv and
      // expects the within-tolerance boolean to be true — a broken
      // estimator fails the hash compare
      oracle =
        """SELECT count(DISTINCT l_orderkey * 10 + l_linenumber) AS n_distinct_rowkey,
          |       true AS fm_ok
          |FROM lineitem""".stripMargin),
    // A5 pragmatic default: HLL++, same invariant upgrade — exact ndv per
    // group plus a boolean gating the estimate within 3·rsd (rsd = 5%)
    Record("distinct_hll", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("hll")),
      check = Some((s, dir, run) =>
        run.join(t(s, dir, "lineitem").groupBy(col("l_returnflag"))
            .agg(countDistinct(col("l_partkey")).as("n_distinct")), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_distinct"),
            (abs(col("hll") - col("n_distinct"))
              <= col("n_distinct") * 0.15).as("hll_ok"))),
      oracle =
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct,
          |       true AS hll_ok
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // deterministic mode: most frequent value per group with an explicit
    // (count DESC, value ASC) tie-break — Spark's mode() and DuckDB's
    // mode() both return an ARBITRARY value on ties, so the portable
    // form is the one that pins the tie; WindowGroupLimit keeps one row
    // per group ahead of the ranking exchange
    Record("agg_mode", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), floor(col("l_quantity")).as("qty"))
        .agg(count(lit(1)).as("n"))
      counts.withColumn("rk", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("n").desc, col("qty").asc)))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n"))
    },
      oracle =
        """SELECT l_returnflag, mode_qty, n FROM (
          |  SELECT l_returnflag, cast(floor(l_quantity) as bigint) AS mode_qty,
          |         count(*) AS n,
          |         row_number() OVER (PARTITION BY l_returnflag
          |           ORDER BY count(*) DESC, cast(floor(l_quantity) as bigint) ASC) AS rk
          |  FROM lineitem GROUP BY 1, 2)
          |WHERE rk = 1""".stripMargin),
    // incremental aggregate maintenance: yesterday's aggregate + today's
    // delta merge into the new aggregate WITHOUT rescanning the base —
    // sum/count are mergeable partials, so the update costs O(delta) +
    // O(groups). The gate proves merged == full recompute group-for-
    // group (merge_equal_ok) and the oracle recomputes the full values
    Record("agg_incremental", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          floor(col("l_quantity")).as("qty"))
      def agg(df: DataFrame) = df.groupBy(col("l_returnflag"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_rows"))
      val base = agg(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = agg(li.filter(col("l_orderkey") % 10 === 0))
      val merged = base.unionByName(delta)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("sum_qty")).as("sum_qty"), sum(col("n_rows")).as("n_rows"))
      val full = agg(li)
      full.join(merged.withColumnRenamed("sum_qty", "m_sum")
          .withColumnRenamed("n_rows", "m_n"), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("sum_qty"), col("n_rows"),
          (col("sum_qty") === col("m_sum") && col("n_rows") === col("m_n"))
            .as("merge_equal_ok"))
    },
      // gated incremental maintenance: full values recomputed by the
      // oracle; the merged-equals-full boolean is Spark-side
      oracle =
        """SELECT l_returnflag,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |       count(*) AS n_rows, true AS merge_equal_ok
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // bivariate statistics: correlation, covariance, least-squares
    // slope/intercept per group — one partial/final aggregate pass (the
    // merge formulas are Spark's DeclarativeAggregates, no second scan).
    // Rounded to 6 dp on both engines: the values are O(1e3-1e4) with
    // ~1e-10 absolute float noise from partial-aggregation order, so
    // the rounding is 4 orders of magnitude above the noise floor
    Record("agg_corr_regr", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), floor(col("l_extendedprice")).as("p"),
          floor(col("l_quantity")).as("q"))
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("p"), col("q")), 6).as("corr_pq"),
          round(covar_pop(col("p"), col("q")), 6).as("covar_pq"),
          round(expr("regr_slope(p, q)"), 6).as("slope"),
          round(expr("regr_intercept(p, q)"), 6).as("intercept"),
          round(stddev_pop(col("q")), 6).as("sd_q")),
      oracle =
        """SELECT l_returnflag,
          |  round(corr(floor(l_extendedprice), floor(l_quantity)), 6) AS corr_pq,
          |  round(covar_pop(floor(l_extendedprice), floor(l_quantity)), 6) AS covar_pq,
          |  round(regr_slope(floor(l_extendedprice), floor(l_quantity)), 6) AS slope,
          |  round(regr_intercept(floor(l_extendedprice), floor(l_quantity)), 6) AS intercept,
          |  round(stddev_pop(floor(l_quantity)), 6) AS sd_q
          |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // mergeable-sketch pattern (Apache DataSketches HLL): per-group
    // sketches built independently, then UNIONED to a global estimate —
    // the incremental-distinct design at 100 TB (store a per-day/per-
    // partition sketch table, answer "distinct over any range" by
    // merging binary sketches, never rescanning raw data). Gates:
    // merge_lossless_ok — union-of-partial-sketches estimates EXACTLY
    // what one direct whole-table sketch estimates (same lgK, the
    // datasketches union contract), and accuracy_ok — the estimate is
    // within 5% of the exact distinct count (lgK=14 → rsd ≈ 0.8%)
    Record("distinct_hll_merge", (s, dir) => {
      val e = t(s, dir, "events")
      val perType = e.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val merged = perType
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_merged"))
      val direct = e
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14)))
          .as("est_direct"))
      val exact = e.agg(countDistinct(col("user_id")).as("n_exact"))
      exact.crossJoin(merged).crossJoin(direct)
        .select(col("n_exact"),
          (col("est_merged") === col("est_direct")).as("merge_lossless_ok"),
          (abs(col("est_merged") - col("n_exact"))
            <= col("n_exact") * 0.05 + lit(10)).as("accuracy_ok"))
    },
      // gated mergeable-sketch invariants: exact count recomputed; the
      // union-vs-direct equality and accuracy booleans are Spark-side
      oracle =
        """SELECT count(DISTINCT user_id) AS n_exact,
          |       true AS merge_lossless_ok, true AS accuracy_ok
          |FROM events""".stripMargin),
    // heavy hitters via sketch-prune + exact verify: a Count-Min sketch
    // (one treeAggregate pass, no shuffle) filters the fact table down
    // to candidate-key rows BEFORE the exact group-by, so the shuffle
    // carries only heavy keys. CMS only over-counts, so the candidate
    // set is a superset and the HAVING-checked output is EXACT — the
    // oracle is a plain GROUP BY/HAVING
    Record("hh_cms_exact", (s, dir) => {
      val threshold = 45L
      val li = t(s, dir, "lineitem").select(col("l_partkey"))
      val cms = li.stat.countMinSketch("l_partkey", 5, 1 << 16, 42)
      val bc = s.sparkContext.broadcast(cms)
      // codegen'd sketch probe (CmsMightBeHeavy) — not a UDF, so the
      // candidate filter stays fused in the scan's codegen stage
      li.filter(graft.functions.CmsLookup.mightBeHeavy(bc, threshold)(col("l_partkey")))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_rows"))
        .filter(col("n_rows") >= threshold)
    },
      // exact by construction: the CMS prune only removes keys below
      // threshold (over-count-only sketch), so plain GROUP BY/HAVING is
      // the full semantics
      oracle =
        """SELECT l_partkey, count(*) AS n_rows
          |FROM lineitem
          |GROUP BY l_partkey
          |HAVING count(*) >= 45""".stripMargin),
    // JSON: extract a typed field from a JSON string column, aggregate it
    Record("func_json", (s, dir) =>
      Engine.eventsTable(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      oracle =
        """SELECT event_type, count(*) AS n,
          |       cast(sum(k) as bigint) AS sum_k,
          |       min(k) AS min_k, max(k) AS max_k
          |FROM (SELECT event_type,
          |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |      FROM events)
          |GROUP BY event_type""".stripMargin),
    // date/time: truncation, field extraction, epoch conversion
    Record("func_datetime", (s, dir) =>
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start_s"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          floor(col("o_totalprice")).as("price"))
        .groupBy(col("yr"), col("mo"), col("month_start_s"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("sum_price"),
          min(col("dom")).as("min_dom"), max(col("dom")).as("max_dom")),
      oracle =
        """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
          |       epoch_ms(date_trunc('month', o_orderdate)) // 1000 AS month_start_s,
          |       count(*) AS n_orders,
          |       cast(sum(cast(floor(o_totalprice) as bigint)) as bigint) AS sum_price,
          |       min(day(o_orderdate)) AS min_dom, max(day(o_orderdate)) AS max_dom
          |FROM orders GROUP BY 1, 2, 3""".stripMargin),
    // strings: case, substring, search, replace, concat, pad, LIKE
    Record("func_string", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          instr(col("p_name"), "o").cast("long").as("o_pos"),
          regexp_replace(col("p_type"), " ", "_").as("type_snake"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          when(col("p_name").like("%ring%"), 1L).otherwise(0L).as("has_ring"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad")),
      oracle =
        """SELECT p_partkey,
          |       upper(p_brand) AS brand_u,
          |       lower(p_type) AS type_l,
          |       substr(p_name, 1, 8) AS name_prefix,
          |       length(p_name) AS name_len,
          |       strpos(p_name, 'o') AS o_pos,
          |       replace(p_type, ' ', '_') AS type_snake,
          |       concat_ws('|', p_brand, p_type) AS brand_type,
          |       CASE WHEN p_name LIKE '%ring%' THEN 1 ELSE 0 END AS has_ring,
          |       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad
          |FROM part""".stripMargin),
    // arrays: per-group collect + numeric sort, rendered as a canonical
    // string (engine-portable array comparison)
    Record("func_array", (s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          concat_ws(",", array_sort(collect_list(col("s_suppkey"))).cast("array<string>"))
            .as("supp_keys")),
      oracle =
        """SELECT s_nationkey, count(*) AS n_supp,
          |       string_agg(CAST(s_suppkey AS VARCHAR), ',' ORDER BY s_suppkey)
          |         AS supp_keys
          |FROM supplier GROUP BY s_nationkey""".stripMargin),
    // order-independent table checksum: bit_xor of a 60-bit md5 prefix
    // per row — equal multisets of rows give equal checksums whatever
    // the partitioning or row order, the cheap cross-engine integrity
    // probe at 100 TB (one scan, one 8-byte partial per partition, no
    // shuffle; only key/string columns feed the digest so the text form
    // is engine-portable)
    Record("agg_checksum", (s, dir) => {
      val o = t(s, dir, "orders")
      val rowHash = conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"))), 1, 15), 16, 10)
        .cast("long")
      o.select(rowHash.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("checksum"))
    },
      // identical md5 and 60-bit prefix on both engines; bit_xor is
      // order-independent so partitioning never changes the value
      oracle =
        """SELECT count(*) AS n_rows,
          |       bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
          |         o_orderkey, o_custkey, o_orderstatus, o_orderpriority)),
          |         1, 15)) AS BIGINT)) AS checksum
          |FROM orders""".stripMargin),
    // rank-statistics window functions (percent_rank/cume_dist share
    // one sort with dense_rank — a single Window physical node)
    Record("window_rank_stats", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("bal_cents"), col("s_suppkey"))
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          floor(col("s_acctbal") * 100).cast("long").as("bal_cents"))
        .select(col("s_suppkey"), col("s_nationkey"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          dense_rank().over(w).cast("long").as("drank"))
    },
      oracle =
        """SELECT s_suppkey, s_nationkey,
          |       percent_rank() OVER w AS pct_rank,
          |       cume_dist() OVER w AS cume,
          |       cast(dense_rank() OVER w as bigint) AS drank
          |FROM (SELECT s_suppkey, s_nationkey,
          |             cast(floor(s_acctbal * 100) as bigint) AS bal_cents
          |      FROM supplier)
          |WINDOW w AS (PARTITION BY s_nationkey ORDER BY bal_cents, s_suppkey)""".stripMargin),
    // rolling 7-day distinct users per window-end day — the sliding
    // COUNT DISTINCT no window frame computes (distinct doesn't
    // decompose over frames). The scale-shaped exact plan: collapse to
    // distinct (user, day) pairs FIRST (one slim shuffle), then explode
    // each pair into the ≤ 7 window-end days it supports and count
    // distinct per end day — the shuffle is 7× the distinct-pair count,
    // never 7× the event count, and nothing resembles a range join.
    // Window ends past the data's last day are trimmed in both engines
    Record("agg_rolling_distinct", (s, dir) => {
      val pairs = Engine.eventsTable(s, dir)
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .distinct()
      val mx = pairs.agg(max(col("day")).as("mx"))
      pairs.crossJoin(broadcast(mx))
        .select(col("user_id"), explode(sequence(col("day"),
          least(col("mx"), col("day") + expr("interval 6 days")),
          expr("interval 1 day"))).as("wend"))
        .groupBy(col("wend"))
        .agg(countDistinct(col("user_id")).as("n_active_7d"))
        .select(unix_millis(col("wend")).as("window_end_ms"),
          col("n_active_7d"))
    },
      oracle =
        """WITH p AS (
          |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
          |mx AS (SELECT max(day) AS mx FROM p),
          |x AS (
          |  SELECT user_id,
          |         unnest(generate_series(day,
          |           least(mx, day + INTERVAL 6 DAY), INTERVAL 1 DAY)) AS wend
          |  FROM p, mx)
          |SELECT epoch_ms(wend) AS window_end_ms,
          |       count(DISTINCT user_id) AS n_active_7d
          |FROM x GROUP BY wend""".stripMargin),
    // gaps-and-islands: per-user consecutive-active-day streaks via the
    // classic d − row_number() island key (constant within a run of
    // consecutive days, strictly decreasing across gaps). Collapse to
    // distinct (user, day) FIRST so the window sorts pair counts, not
    // event counts; two partial-aggregable rollups after. The streak /
    // retention primitive every engagement pipeline computes
    Record("window_gaps_islands", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      Engine.eventsTable(s, dir)
        .select(col("user_id"),
          unix_date(date_trunc("DAY", col("ts")).cast("date"))
            .cast("long").as("d"))
        .distinct()
        .withColumn("island", col("d") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"))
    },
      oracle =
        """WITH p AS (
          |  SELECT DISTINCT user_id,
          |         date_diff('day', DATE '1970-01-01',
          |                   date_trunc('day', ts)::date) AS d
          |  FROM events),
          |i AS (
          |  SELECT user_id, d,
          |         d - row_number() OVER (PARTITION BY user_id ORDER BY d)
          |           AS island
          |  FROM p),
          |s AS (
          |  SELECT user_id, island, count(*) AS len
          |  FROM i GROUP BY user_id, island)
          |SELECT user_id, count(*) AS n_streaks,
          |       cast(max(len) as bigint) AS longest_streak,
          |       cast(sum(len) as bigint) AS n_active_days
          |FROM s GROUP BY user_id""".stripMargin),
    // HDR-style log-bucketed histogram: bucket = bit length of the
    // milli value (power-of-2 boundaries) — integer-exact, mergeable
    // (bucket counts are plain sums), and constant memory per key
    // whatever the value range; the latency-distribution primitive.
    // One partial-aggregable pass; both engines compute the bucket as
    // length(bin(v)) on v >= 1 (0 pinned to bucket 0)
    Record("agg_log_histogram", (s, dir) =>
      Engine.eventsTable(s, dir)
        .select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("v"))
        .withColumn("bucket",
          when(col("v") <= 0L, lit(0L))
            .otherwise(length(bin(col("v"))).cast("long")))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("v")).as("v_min"), max(col("v")).as("v_max")),
      oracle =
        """WITH e AS (
          |  SELECT event_type, cast(floor(value * 1000) as bigint) AS v
          |  FROM events)
          |SELECT event_type,
          |       CASE WHEN v <= 0 THEN 0
          |            ELSE cast(length(bin(v)) as bigint) END AS bucket,
          |       count(*) AS n,
          |       cast(min(v) as bigint) AS v_min,
          |       cast(max(v) as bigint) AS v_max
          |FROM e GROUP BY 1, 2""".stripMargin),
    // LATERAL correlated derived table — the SQL surface for per-row
    // top-N subqueries (Spark supports JOIN LATERAL since 3.2): the two
    // highest-balance customers per nation, the correlated limit the
    // optimizer decorrelates; DuckDB runs the identical text
    Record("sql_lateral", (s, dir) => {
      Engine.table(s, dir, "nation").createOrReplaceTempView("lat_nation")
      Engine.table(s, dir, "customer").createOrReplaceTempView("lat_customer")
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.bal_cents
          |FROM lat_nation n
          |JOIN LATERAL (
          |  SELECT c_custkey,
          |         cast(floor(c_acctbal * 100) as bigint) AS bal_cents
          |  FROM lat_customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY bal_cents DESC, c_custkey ASC
          |  LIMIT 2) t""".stripMargin)
    },
      oracle =
        """SELECT n.n_name, t.c_custkey, t.bal_cents
          |FROM nation n
          |JOIN LATERAL (
          |  SELECT c_custkey,
          |         cast(floor(c_acctbal * 100) as bigint) AS bal_cents
          |  FROM customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY bal_cents DESC, c_custkey ASC
          |  LIMIT 2) t ON true""".stripMargin),
    // recency-decayed engagement score with EXACT integer decay: the
    // float form (Σ v·2^(−age/h)) is accumulation-order-sensitive; the
    // halving-buckets form (v div 2^⌊age/7d⌋) is order-free integer
    // arithmetic, so the per-user sum hash-gates in any engine. age is
    // against the corpus max day (broadcast 1-row total); the shift is
    // capped at 62 because Java/long shifts MASK the count mod 64 — an
    // uncapped 64-day-halflife-old row would silently decay by 2^0.
    // nonneg_ok pins v ≥ 0 (shift-as-floor-division needs it)
    Record("agg_decay_sum", (s, dir) => {
      val daily = Engine.eventsTable(s, dir)
        .select(col("user_id"),
          unix_date(date_trunc("DAY", col("ts")).cast("date"))
            .cast("long").as("d"),
          floor(col("value") * 1000).cast("long").as("v"))
      val mx = daily.agg(max(col("d")).as("mx"))
      daily.crossJoin(broadcast(mx))
        .withColumn("k", expr("cast(least((mx - d) div 7, 62L) as int)"))
        .withColumn("dec", expr("v div shiftleft(1L, k)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("dec")).as("decayed_sum"),
          (min(col("v")) >= 0L).as("nonneg_ok"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id,
          |         date_diff('day', DATE '1970-01-01',
          |                   date_trunc('day', ts)::date) AS d,
          |         cast(floor(value * 1000) as bigint) AS v
          |  FROM events),
          |mx AS (SELECT max(d) AS mx FROM e),
          |k AS (
          |  SELECT user_id, v,
          |         cast(least((mx - d) // 7, 62) as bigint) AS k
          |  FROM e, mx)
          |SELECT user_id, count(*) AS n_events,
          |       cast(sum(v // (1::BIGINT << k)) as bigint) AS decayed_sum,
          |       (min(v) >= 0) AS nonneg_ok
          |FROM k GROUP BY user_id""".stripMargin),
  )
}
