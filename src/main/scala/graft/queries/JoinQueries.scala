package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** The join library (§2.2 generalized): semi, anti, outer, non-equi,
  * as-of, range, interval, fuzzy, bloom-prefiltered and salted joins.
  */
private[graft] object JoinQueries {

  def records: Seq[Record] = Seq(
    Record("join_semi", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Joins.semi(c, o, c("c_custkey") === o("o_custkey")).select(col("c_custkey"))
    },
      oracle =
        """SELECT c_custkey FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    Record("join_anti", (s, dir) => {
      // orders whose customer is NOT in the BUILDING segment (filter +
      // anti-join; every custkey has orders in this data, so the filter
      // is what makes the anti side non-trivial)
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      Joins.anti(o, c, o("o_custkey") === c("c_custkey")).select(col("o_orderkey"))
    },
      oracle =
        """SELECT o_orderkey FROM orders
          |WHERE NOT EXISTS (SELECT 1 FROM customer
          |                  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')""".stripMargin),
    Record("join_outer_count", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    },
      oracle =
        """SELECT c_custkey, count(o_orderkey) AS n_orders
          |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          |GROUP BY c_custkey""".stripMargin),
    Record("join_nonequi", (s, dir) => {
      val su = t(s, dir, "supplier"); val n = t(s, dir, "nation")
      Joins.nonEqui(su, n, su("s_nationkey") < n("n_nationkey"))
        .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_pairs"))
    },
      oracle =
        """SELECT s_suppkey, count(*) AS n_pairs
          |FROM supplier JOIN nation ON s_nationkey < n_nationkey
          |GROUP BY s_suppkey""".stripMargin),
    Record("join_asof", (s, dir) => {
      // for each click, the user's most recent purchase at or before it
      val e = Engine.eventsTable(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_millis(col("ts")).as("click_ms"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_millis(col("ts")).as("p_ms"))
      Joins.asof(clicks, purchases,
        keyCols = Seq("user_id"), leftTime = "click_ms", rightTime = "p_ms",
        leftCols = Seq("click_id", "user_id", "click_ms"),
        rightCols = Seq("purchase_id"))
        .withColumn("purchase_id", coalesce(col("purchase_id"), lit(-1L)))
    },
      // compares at the SAME ms granularity as the Spark query
      // (unix_millis both sides); ties at equal p_ms break to the max
      // purchase_id, matching Joins.asof's deterministic tie-break
      oracle =
        """WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
          |           FROM events WHERE event_type = 'click'),
          |     p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS p_ms
          |           FROM events WHERE event_type = 'purchase'),
          |     m AS (SELECT c.click_id, c.user_id, c.click_ms, max(p.p_ms) AS best_ms
          |           FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.p_ms <= c.click_ms
          |           GROUP BY 1, 2, 3)
          |SELECT m.click_id, m.user_id, m.click_ms,
          |       coalesce(max(p.purchase_id), -1) AS purchase_id
          |FROM m LEFT JOIN p ON p.user_id = m.user_id AND p.p_ms = m.best_ms
          |GROUP BY 1, 2, 3""".stripMargin),
    // forward as-of with tolerance: next purchase within 1h of each click
    Record("join_asof_fwd", (s, dir) => {
      val e = Engine.eventsTable(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_millis(col("ts")).as("click_ms"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_millis(col("ts")).as("p_ms"))
      Joins.asof(clicks, purchases,
        keyCols = Seq("user_id"), leftTime = "click_ms", rightTime = "p_ms",
        leftCols = Seq("click_id", "user_id", "click_ms"),
        rightCols = Seq("purchase_id"),
        direction = "forward", tolerance = 3600000L)
        .withColumn("purchase_id", coalesce(col("purchase_id"), lit(-1L)))
    },
      // forward direction, 1h tolerance; ties at equal p_ms break to the
      // max purchase_id, matching Joins.asof's deterministic tie-break
      oracle =
        """WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
          |           FROM events WHERE event_type = 'click'),
          |     p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS p_ms
          |           FROM events WHERE event_type = 'purchase'),
          |     m AS (SELECT c.click_id, c.user_id, c.click_ms, min(p.p_ms) AS best_ms
          |           FROM c LEFT JOIN p ON p.user_id = c.user_id
          |             AND p.p_ms >= c.click_ms AND p.p_ms - c.click_ms <= 3600000
          |           GROUP BY 1, 2, 3)
          |SELECT m.click_id, m.user_id, m.click_ms,
          |       coalesce(max(p.purchase_id), -1) AS purchase_id
          |FROM m LEFT JOIN p ON p.user_id = m.user_id AND p.p_ms = m.best_ms
          |GROUP BY 1, 2, 3""".stripMargin),
    Record("join_range", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val buckets = t(s, dir, "region")
        .select(col("r_regionkey"),
          (col("r_regionkey") * 10).cast("double").as("lo"),
          ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))
      Joins.rangeJoin(li, col("l_quantity"), buckets, col("lo"), col("hi"))
        .groupBy(col("r_regionkey")).agg(count(lit(1)).as("n_rows"))
    },
      oracle =
        """SELECT r_regionkey, count(*) AS n_rows
          |FROM lineitem JOIN region
          |  ON l_quantity >= r_regionkey * 10 AND l_quantity < (r_regionkey + 1) * 10
          |GROUP BY r_regionkey""".stripMargin),
    // the two-large-sides form of join_range: equi-join on overlap
    // buckets + residual filter instead of a broadcast BNLJ
    Record("join_range_band", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val buckets = t(s, dir, "region")
        .select(col("r_regionkey"),
          (col("r_regionkey") * 10).cast("double").as("lo"),
          ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))
      Joins.bandRangeJoin(li, col("l_quantity"), buckets, col("lo"), col("hi"),
        bucketWidth = 7)
        .groupBy(col("r_regionkey")).agg(count(lit(1)).as("n_band_rows"))
    },
      oracle =
        """SELECT r_regionkey, count(*) AS n_band_rows
          |FROM lineitem JOIN region
          |  ON l_quantity >= r_regionkey * 10 AND l_quantity < (r_regionkey + 1) * 10
          |GROUP BY r_regionkey""".stripMargin),
    // interval × interval overlap join: concurrent-session pairs across
    // users (co-presence). Both sides are the sessionized events table
    // (9.5k intervals at sf0.01), banded at 1 h so the join is a
    // band-keyed equi-join with the overlap predicate as a residual —
    // never a cross join — and each pair is emitted exactly once in the
    // band of greatest(lo_a, lo_b). This IS the production form; the
    // oracle replays sessionization + the naive
    // non-equi join and must agree pair-for-pair via the aggregate
    Record("join_interval_overlap", (s, dir) => {
      // explicit repartition on the sessionize window key: it REPLACES
      // the window's planner exchange (same key, same count — at scale
      // zero extra shuffles), and a user exchange is exempt from AQE
      // coalescing, so the banded self-join's pair blow-up + residual
      // filter downstream of the window run cores-wide instead of in
      // the ONE post-coalesce task (JobProf: 0.76 s of the row's 1.1 s
      // was a single-task join stage; r12 §2.5/§2.6, the window_ntile /
      // fuzzy_join_lev medicine)
      val sess = streaming.Events.sessionizeBatch(Engine.eventsTable(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("user_id")))
      val a = sess.select(col("user_id").as("user_a"),
        col("session_start").as("lo_a"), col("session_end").as("hi_a"))
      val b = sess.select(col("user_id").as("user_b"),
        col("session_start").as("lo_b"), col("session_end").as("hi_b"))
      Joins.intervalOverlapJoin(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
          bandWidth = 3600000L, extraOn = col("user_a") < col("user_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("hi_a"), col("hi_b")) -
            greatest(col("lo_a"), col("lo_b"))).as("sum_overlap_ms"))
    },
      // sessionize replay (same CTE as events_sessionize), then the
      // naive non-equi overlap self-join the banded plan must equal
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms,
          |         lag(cast(epoch_ms(ts) as bigint)) OVER (
          |           PARTITION BY user_id ORDER BY ts) AS prev_ms
          |  FROM events),
          |s AS (
          |  SELECT user_id, ts_ms,
          |         sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
          |                  THEN 1 ELSE 0 END) OVER (
          |           PARTITION BY user_id ORDER BY ts_ms
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
          |  FROM e),
          |sess AS (SELECT user_id, min(ts_ms) AS lo, max(ts_ms) AS hi
          |         FROM s GROUP BY user_id, seq)
          |SELECT count(*) AS n_pairs,
          |       cast(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) as bigint)
          |         AS sum_overlap_ms
          |FROM sess a JOIN sess b
          |  ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi""".stripMargin),
    // fuzzy (edit-distance) self-join with two-level blocking: equi-join
    // on (brand, length-bucket) — |len diff| lower-bounds the edit
    // distance, so bucketing lengths at width 4 and exploding side b to
    // the buckets its ±3 window can touch keeps every distance-≤3 pair
    // (each pair is produced once: a carries exactly one bucket). The
    // residual length band + O(len·band) thresholded levenshtein run as
    // post-filters. The probe side repartitions to cluster parallelism
    // and the block side broadcasts: the pair blow-up and the lev CPU
    // happen INSIDE the join stage, where AQE's byte-based coalescing
    // can't see them — without the explicit spread, a few-MB input
    // coalesces to 1-2 partitions and the CPU-bound stage runs serial
    // (measured 6.0 s → 0.6 s at sf0.1, identical 503,800-row result).
    // Past the broadcast threshold the same plan shape degrades to a
    // co-partitioned hash join on (brand, lbucket) — drop the hint, keep
    // the repartition.
    Record("fuzzy_join_lev", (s, dir) => {
      val p = t(s, dir, "part")
      val w = 4
      val a = p.select(col("p_partkey").as("id_a"), col("p_brand").as("brand"),
        col("p_name").as("name_a"),
        floor(length(col("p_name")) / w).as("lbucket"))
        .repartition(s.sparkContext.defaultParallelism, col("id_a"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_brand").as("brand"),
        col("p_name").as("name_b"),
        explode(sequence(
          floor((length(col("p_name")) - 3) / w),
          floor((length(col("p_name")) + 3) / w))).as("lbucket"))
      a.join(broadcast(b), Seq("brand", "lbucket"))
        .filter(col("id_a") < col("id_b") &&
          // the bucket window over-covers; the exact band still prunes
          abs(length(col("name_a")) - length(col("name_b"))) <= 3)
        // thresholded levenshtein: banded DP + early exit, returns -1
        // above the cutoff (and the exact distance at or below it)
        .withColumn("lev_dist",
          levenshtein(col("name_a"), col("name_b"), 3).cast("long"))
        .filter(col("lev_dist") >= 0)
        .select(col("id_a"), col("id_b"), col("lev_dist"))
    },
      oracle =
        """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          |       cast(levenshtein(a.p_name, b.p_name) as bigint) AS lev_dist
          |FROM part a
          |JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
          |WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
          |  AND levenshtein(a.p_name, b.p_name) <= 3""".stripMargin),
    // full outer: per-nation deep-negative-balance customer vs supplier
    // counts — both sides produce orphan nations, exercising both null
    // directions
    Record("join_full_outer", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") < -500)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") < -500)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
      oracle =
        """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
          |           FROM customer WHERE c_acctbal < -500 GROUP BY 1),
          |     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
          |           FROM supplier WHERE s_acctbal < -500 GROUP BY 1)
          |SELECT coalesce(c.nk, s.nk) AS nationkey,
          |       coalesce(n_cust, 0) AS n_cust,
          |       coalesce(n_supp, 0) AS n_supp
          |FROM c FULL JOIN s ON c.nk = s.nk""".stripMargin),
    // runtime-filter pattern as an explicit operator: bloom over the
    // filtered dim keys prunes the fact scan before the join; the exact
    // join removes bloom false positives, so the result is identical
    Record("join_bloom_prefilter", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), floor(col("l_quantity")).as("qty"))
      val dim = t(s, dir, "supplier").filter(col("s_nationkey") < 5)
        .select(col("s_suppkey"), col("s_nationkey"))
      Joins.bloomPrefilteredJoin(li, dim, col("l_suppkey"), col("s_suppkey"),
        expectedDimRows = 100000)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    },
      oracle =
        """SELECT s_nationkey, count(*) AS n_rows,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |WHERE s_nationkey < 5
          |GROUP BY s_nationkey""".stripMargin),
    // explicit salting for stable known skew (AQE skew-join is the
    // runtime fallback); result identical to the plain join
    Record("join_skew_salted", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), floor(col("l_quantity")).as("qty"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      Joins.saltedSkewJoin(li, su, col("l_suppkey"), col("s_suppkey"), saltBuckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    },
      oracle =
        """SELECT s_nationkey, count(*) AS n_rows,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY s_nationkey""".stripMargin),
    // NEAREST-in-time as-of join (join_asof looks backward, _fwd looks
    // forward; this picks whichever is closer, ties to the earlier):
    // each purchase pairs with the user's nearest click in EITHER
    // direction. Same single-window-sort plan as events_attribution —
    // prev click carries forward over rowsBetween(-∞,-1), next click
    // carries backward over rowsBetween(+1,+∞), both frames of ONE sort;
    // never a per-row |Δt| range join. The chooser is pure integer
    // arithmetic on the two candidates, replayed by the oracle verbatim
    Record("join_asof_nearest", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val wPrev = base.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = base.rowsBetween(1, Window.unboundedFollowing)
      def clickCol(c: String) = when(col("event_type") === "click", col(c))
      Engine.eventsTable(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
        .withColumn("pid", last(clickCol("event_id"), ignoreNulls = true).over(wPrev))
        .withColumn("pts", last(clickCol("ts_ms"), ignoreNulls = true).over(wPrev))
        .withColumn("nid", first(clickCol("event_id"), ignoreNulls = true).over(wNext))
        .withColumn("nts", first(clickCol("ts_ms"), ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          when(col("pid").isNotNull &&
              (col("nid").isNull ||
                (col("ts_ms") - col("pts")) <= (col("nts") - col("ts_ms"))),
              col("pid"))
            .otherwise(col("nid")).as("click_id"),
          when(col("pid").isNotNull &&
              (col("nid").isNull ||
                (col("ts_ms") - col("pts")) <= (col("nts") - col("ts_ms"))),
              col("ts_ms") - col("pts"))
            .otherwise(col("nts") - col("ts_ms")).as("abs_lag_ms"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms,
          |         event_id, event_type
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |w AS (
          |  SELECT *,
          |    last_value(CASE WHEN event_type = 'click' THEN event_id END
          |               IGNORE NULLS) OVER wp AS pid,
          |    last_value(CASE WHEN event_type = 'click' THEN ts_ms END
          |               IGNORE NULLS) OVER wp AS pts,
          |    first_value(CASE WHEN event_type = 'click' THEN event_id END
          |                IGNORE NULLS) OVER wn AS nid,
          |    first_value(CASE WHEN event_type = 'click' THEN ts_ms END
          |                IGNORE NULLS) OVER wn AS nts
          |  FROM e
          |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |  wn AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
          |SELECT user_id, event_id AS purchase_id,
          |  CASE WHEN pid IS NOT NULL AND
          |            (nid IS NULL OR ts_ms - pts <= nts - ts_ms)
          |       THEN pid ELSE nid END AS click_id,
          |  CASE WHEN pid IS NOT NULL AND
          |            (nid IS NULL OR ts_ms - pts <= nts - ts_ms)
          |       THEN ts_ms - pts ELSE nts - ts_ms END AS abs_lag_ms
          |FROM w WHERE event_type = 'purchase'""".stripMargin),
  )
}
