package graft
package queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._

/** Composite analytics: the TPC-H query shapes over the testdata's
  * TPC-H tables.
  */
private[graft] object CompositeQueries {

  def records: Seq[Record] = Seq(
    // TPC-H Q1 shape: scan-side date filter, multi-aggregate pricing
    // summary, integer-safe arithmetic (per-row floor before sum)
    Record("tpch_q1", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-06-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(floor(col("l_quantity"))).as("sum_qty"),
          sum(floor(col("l_extendedprice"))).as("sum_base_price"),
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          expr("sum(floor(l_quantity)) div count(*)").as("avg_qty")),
      oracle =
        """SELECT l_returnflag, l_linestatus,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |       cast(sum(cast(floor(l_extendedprice) as bigint)) as bigint) AS sum_base_price,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS sum_disc_price,
          |       count(*) AS count_order,
          |       cast(sum(cast(floor(l_quantity) as bigint)) // count(*) as bigint) AS avg_qty
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-06-01'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // TPC-H Q3 shape: 3-way join, filtered fact + dims, grouped revenue,
    // deterministic global top-10
    Record("tpch_q3", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"),
          // NTZ → TZ cast interprets in the session tz (UTC), matching
          // the oracle's epoch_ms on the naive timestamp
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate_ms"))
        .agg(sum(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      oracle =
        """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |  AND l_shipdate > TIMESTAMP '1997-01-01'
          |GROUP BY 1, 2
          |ORDER BY revenue DESC, l_orderkey ASC
          |LIMIT 10""".stripMargin),
    // TPC-H Q6 shape: tight selective scan + ungrouped sum — the
    // pushdown showcase (all three predicates reach the parquet reader)
    Record("tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount")))
          .as("revenue")),
      oracle =
        """SELECT cast(sum(cast(floor(l_extendedprice * l_discount) as bigint)) as bigint)
          |         AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin),
    // TPC-H Q10 shape: returned-item customer revenue — 4-way join
    // (fact + 3 broadcast dims), grouped by customer, deterministic
    // top-20 via TakeOrderedAndProject (no full sort)
    Record("tpch_q10", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      oracle =
        """SELECT c_custkey, c_name, n_name,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1996-10-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, c_custkey ASC
          |LIMIT 20""".stripMargin),
    // TPC-H Q14 shape: promo revenue share. The ratio is reported as an
    // integer pair (promo_rev, total_rev) instead of the float percentage
    // so the result stays hash-exact under integer-only arithmetic — the
    // same stance as every q4112 average
    Record("tpch_q14", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01")))
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L))
            .as("promo_rev"),
          sum(col("rev")).as("total_rev"))
    },
      oracle =
        """SELECT cast(sum(CASE WHEN p_type = 'PROMO'
          |                     THEN cast(floor(l_extendedprice * (1 - l_discount)) as bigint)
          |                     ELSE 0 END) as bigint) AS promo_rev,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS total_rev
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin),
    // TPC-H Q19 shape: disjunctive bracket predicates over a dim join —
    // the OR of three (brand, size-range, quantity-range) brackets; the
    // join-key conjuncts still reach both parquet scans as pushed
    // filters, the brackets evaluate post-join in one codegen stage
    Record("tpch_q19", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val brackets =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(brackets)
        .agg(sum(col("rev")).as("revenue"), count(lit(1)).as("n_lines"))
    },
      oracle =
        """SELECT cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // TPC-H Q18 shape: large-volume customers — a HAVING subquery over
    // the fact table semi-joins back onto itself. The qualifying-order
    // set (sum(qty) > 250 ≈ the 98th percentile) is tiny, so Spark
    // broadcasts it into the left-semi probe and the fact table streams
    // once per leg; the big groupBy shuffles only after the semi filter
    Record("tpch_q18", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), floor(col("l_quantity")).as("qty"))
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("qty")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
        .select(col("l_orderkey"))
      val o = t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
          floor(col("o_totalprice")).as("o_totalprice_fl"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate_ms"), col("o_totalprice_fl"))
        .agg(sum(col("qty")).as("sum_qty"))
    },
      oracle =
        """SELECT c_name, c_custkey, o_orderkey,
          |       epoch_ms(o_orderdate) AS o_orderdate_ms,
          |       cast(floor(o_totalprice) as bigint) AS o_totalprice_fl,
          |       cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty
          |FROM lineitem
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          |  HAVING sum(cast(floor(l_quantity) as bigint)) > 250)
          |GROUP BY 1, 2, 3, 4, 5""".stripMargin),
    // TPC-H Q5 shape: 6-table star join — fact joined to two dim chains
    // that must agree on nation; dims broadcast, fact never shuffled
    // until the final group-by
    Record("tpch_q5", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).as("revenue"))
    },
      oracle =
        """SELECT n_name,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |         AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY n_name""".stripMargin),
    // TPC-H Q4 shape: priority counts over orders that have at least one
    // qualifying line — a decorrelated EXISTS, planned as a LEFT SEMI
    // join that probes the orders scan once (the testdata has no
    // commit/receipt dates, so "late line" becomes "returned line")
    Record("tpch_q4", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-10-01")))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      oracle =
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          |  AND o_orderdate < TIMESTAMP '1996-10-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY 1""".stripMargin),
    // TPC-H Q7 shape: volume shipping between a nation pair — the fact
    // table joins BOTH dim chains (supplier-nation and
    // orders-customer-nation); all four dims broadcast, the symmetric
    // nation-pair disjunction evaluates post-join, and the fact table
    // only shuffles for the final (supp, cust, year) group-by
    Record("tpch_q7", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
          col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("volume")).as("revenue"))
    },
      oracle =
        """SELECT supp_nation, cust_nation, l_year,
          |       cast(sum(volume) as bigint) AS revenue FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |         cast(year(l_shipdate) as bigint) AS l_year,
          |         cast(floor(l_extendedprice * (1 - l_discount)) as bigint) AS volume
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1998-01-01'
          |    AND n1.n_name IN ('NATION_1','NATION_2','NATION_3')
          |    AND n2.n_name IN ('NATION_1','NATION_2','NATION_3')
          |    AND n1.n_name <> n2.n_name
          |) GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q12 shape: conditional counts split by a dimension attribute
    // carried through the join (shipmode → l_linestatus here); the CASE
    // pair collapses map-side in the partial aggregate — two counters
    // per status, not two passes
    Record("tpch_q12", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_linestatus"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
    },
      oracle =
        """SELECT l_linestatus,
          |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |                THEN 1 ELSE 0 END) as bigint) AS high_line_count,
          |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |                THEN 0 ELSE 1 END) as bigint) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |GROUP BY 1""".stripMargin),
    // TPC-H Q13 shape: customer order-count distribution — the LEFT
    // OUTER join keeps zero-order customers (count(o) = 0 for them, not
    // a dropped row), then a second aggregate histograms the counts.
    // Two shuffles total, both on small post-agg sets
    Record("tpch_q13", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      oracle =
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c_custkey, count(o_custkey) AS c_count
          |  FROM customer LEFT JOIN
          |    (SELECT o_custkey FROM orders WHERE o_orderpriority <> '5-LOW') o
          |    ON c_custkey = o.o_custkey
          |  GROUP BY c_custkey
          |) GROUP BY c_count""".stripMargin),
    // TPC-H Q17 shape: rows below a fifth of their part's average
    // quantity. The correlated AVG subquery decorrelates into a
    // per-part aggregate joined back to the fact table; the comparison
    // stays integer-exact as qty*5*n < sum (never a float average) —
    // the same stance as every q4112 average
    Record("tpch_q17", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), floor(col("l_quantity")).as("qty"),
          floor(col("l_extendedprice")).as("price_fl"))
      val brand = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_li"))
      li.join(broadcast(brand), col("l_partkey") === col("p_partkey"))
        .join(stats, Seq("l_partkey"))
        .filter(col("qty") * lit(5L) * col("n_li") < col("sum_qty"))
        .agg(sum(col("price_fl")).as("total_price_fl"),
          count(lit(1)).as("n_small"))
    },
      oracle =
        """SELECT cast(sum(price_fl) as bigint) AS total_price_fl,
          |       count(*) AS n_small FROM (
          |  SELECT cast(floor(l_extendedprice) as bigint) AS price_fl,
          |         cast(floor(l_quantity) as bigint) AS qty, l_partkey
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_brand = 'Brand#23'
          |) l JOIN (
          |  SELECT l_partkey AS pk,
          |         cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS sum_qty,
          |         count(*) AS n_li
          |  FROM lineitem GROUP BY 1
          |) st ON l.l_partkey = st.pk
          |WHERE qty * 5 * n_li < sum_qty""".stripMargin),
    // TPC-H Q21 shape: the EXISTS + NOT EXISTS double self-join on the
    // fact table (suppliers whose line is the ONLY returned line of a
    // multi-supplier order — the testdata carries no receipt dates, so
    // "late" becomes "returned"). Planned as one LEFT SEMI and one LEFT
    // ANTI probe over the same slim (orderkey, suppkey) projection;
    // deterministic top-20 via (numwait DESC, s_name ASC)
    Record("tpch_q21", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val r1 = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val othersR = r1.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val sole = r1
        .join(others, col("l_orderkey") === col("o2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(othersR, col("l_orderkey") === col("o3") &&
          col("l_suppkey") =!= col("s3"), "left_anti")
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      sole.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },
      oracle =
        """SELECT s_name, count(*) AS numwait
          |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
          |WHERE l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
    // TPC-H Q22 shape: above-average balances with an anti-join (the
    // testdata has no phone column and every customer has orders, so
    // cntrycode := c_nationkey % 10 and the NOT EXISTS excludes
    // customers with any URGENT order). The global threshold is a
    // 1-row broadcast scalar; balances stay integer cents end-to-end
    // so the average threshold is exact on both engines
    Record("tpch_q22", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"),
          pmod(col("c_nationkey"), lit(10)).cast("int").as("cntrycode"),
          floor(col("c_acctbal") * 100).as("bal_cents"))
        .filter(col("cntrycode").isin(1, 3, 5, 7, 9))
      val thr = cust.filter(col("bal_cents") > 0L)
        .agg(expr("sum(bal_cents) div count(1)").as("t"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust.join(broadcast(thr))
        .filter(col("bal_cents") > col("t"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal_cents")).as("totacctbal_cents"))
    },
      oracle =
        """WITH cust AS (
          |  SELECT c_custkey, cast(c_nationkey % 10 as int) AS cntrycode,
          |         cast(floor(c_acctbal * 100) as bigint) AS bal_cents
          |  FROM customer WHERE c_nationkey % 10 IN (1,3,5,7,9)
          |), thr AS (
          |  SELECT cast(sum(bal_cents) // count(*) as bigint) AS t
          |  FROM cust WHERE bal_cents > 0
          |)
          |SELECT cntrycode, count(*) AS numcust,
          |       cast(sum(bal_cents) as bigint) AS totacctbal_cents
          |FROM cust, thr
          |WHERE bal_cents > t
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderpriority = '1-URGENT')
          |GROUP BY cntrycode""".stripMargin),
    // TPC-H Q2 shape: min-cost supplier per part. No partsupp table in
    // the testdata, so the supplier-part catalog derives from lineitem
    // (ps_cost := min floor(l_extendedprice) per pair) — the query
    // SHAPE is Q2's: dim-filtered catalog, region-filtered supplier
    // chain, and the correlated min-cost subquery expressed as a
    // per-part window min (the Spark-idiomatic equivalent — one pass,
    // no re-join of the catalog against itself)
    Record("tpch_q2", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val supplies = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(min(floor(col("l_extendedprice"))).as("ps_cost"))
      val eu = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val pf = t(s, dir, "part")
        .filter(col("p_size") <= 25 && col("p_type") === "LARGE")
        .select(col("p_partkey"))
      val cand = supplies
        .join(broadcast(pf), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(eu), col("ps_suppkey") === col("s_suppkey"))
      cand.withColumn("min_cost",
          min(col("ps_cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("ps_cost") === col("min_cost"))
        .select(col("p_partkey"), col("s_name"), col("n_name"),
          col("ps_cost").as("cost"))
    },
      oracle =
        """WITH supplies AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         cast(min(cast(floor(l_extendedprice) as bigint)) as bigint) AS ps_cost
          |  FROM lineitem GROUP BY 1, 2),
          |eu AS (
          |  SELECT s_suppkey, s_name, n_name
          |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |                JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'),
          |cand AS (
          |  SELECT p_partkey, s_name, n_name, ps_cost,
          |         min(ps_cost) OVER (PARTITION BY p_partkey) AS min_cost
          |  FROM part JOIN supplies ON p_partkey = ps_partkey
          |            JOIN eu ON ps_suppkey = s_suppkey
          |  WHERE p_size <= 25 AND p_type = 'LARGE')
          |SELECT p_partkey, s_name, n_name, ps_cost AS cost
          |FROM cand WHERE ps_cost = min_cost""".stripMargin),
    // TPC-H Q9 shape: profit per supplier-nation per year. Cost side
    // adapted to floor(p_retailprice) (no ps_supplycost in testdata);
    // all dims broadcast, the only exchanges are the orders join on
    // l_orderkey and the final 2-key aggregate
    Record("tpch_q9", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), floor(col("p_retailprice")).as("p_cost"))
      val sn = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")))
          - col("p_cost") * floor(col("l_quantity"))).as("profit"))
    },
      oracle =
        """SELECT n_name, cast(year(o_orderdate) as bigint) AS o_year,
          |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)
          |              - cast(floor(p_retailprice) as bigint)
          |                * cast(floor(l_quantity) as bigint)) as bigint) AS profit
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |     JOIN supplier ON l_suppkey = s_suppkey
          |     JOIN nation ON s_nationkey = n_nationkey
          |     JOIN orders ON l_orderkey = o_orderkey
          |WHERE p_name LIKE '%widget%'
          |GROUP BY 1, 2""".stripMargin),
    // TPC-H Q11 shape: important parts by inventory value within one
    // region's suppliers. Value derives from lineitem (no partsupp);
    // the threshold is 2× the MEAN part value — self-normalizing, so
    // the predicate keeps selecting at any scale (TPC-H's fixed
    // fraction must be re-tuned per SF; a mean-relative cut is the
    // form that survives 100 TB unchanged). The 1-row threshold
    // broadcasts back over the per-part aggregate.
    Record("tpch_q11", (s, dir) => {
      val supplies = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(sum(floor(col("l_extendedprice"))).as("val"))
      val asia = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("s_suppkey"))
      val pv = supplies
        .join(broadcast(asia), col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("ps_partkey"))
        .agg(sum(col("val")).as("value"))
      val thr = pv.agg(expr("2 * sum(value) div count(1)").as("thr"))
      pv.join(broadcast(thr)).filter(col("value") > col("thr"))
        .select(col("ps_partkey"), col("value"))
    },
      oracle =
        """WITH supplies AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         cast(sum(cast(floor(l_extendedprice) as bigint)) as bigint) AS val
          |  FROM lineitem GROUP BY 1, 2),
          |asia AS (SELECT s_suppkey FROM supplier
          |         JOIN nation ON s_nationkey = n_nationkey
          |         JOIN region ON n_regionkey = r_regionkey
          |         WHERE r_name = 'ASIA'),
          |pv AS (SELECT ps_partkey, cast(sum(val) as bigint) AS value
          |       FROM supplies JOIN asia ON ps_suppkey = s_suppkey GROUP BY 1)
          |SELECT ps_partkey, value FROM pv
          |WHERE value > (SELECT cast(2 * sum(value) // count(*) as bigint) FROM pv)""".stripMargin),
    // TPC-H Q16 shape: supplier diversity per part attribute triple,
    // excluding a brand/type slice and flagged suppliers (complaint
    // filter adapted to a name pattern). The distinct (part, supplier)
    // catalog derives from lineitem; the final count(DISTINCT) shuffles
    // only the surviving slim triples.
    Record("tpch_q16", (s, dir) => {
      val supplies = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val okSupp = t(s, dir, "supplier")
        .filter(!col("s_name").like("%7")).select(col("s_suppkey"))
      val pf = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      supplies
        .join(broadcast(okSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      oracle =
        """WITH supplies AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
          |SELECT p_brand, p_type, p_size,
          |       count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM part JOIN supplies ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          |  AND l_suppkey IN (SELECT s_suppkey FROM supplier
          |                    WHERE s_name NOT LIKE '%7')
          |GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q20 shape: suppliers holding excess stock of a part slice —
    // the nested per-(part, supplier) aggregate with a correlated
    // quantity comparison (availqty adapted to all-time shipped
    // quantity vs 2× the 1997 slice; both sides come out of ONE scan
    // as a conditional aggregate, not two scans of lineitem), then a
    // semi-join up to the supplier dimension
    Record("tpch_q20", (s, dir) => {
      val qty = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(floor(col("l_quantity"))).as("total_qty"),
          sum(when(year(col("l_shipdate")) === 1997,
            floor(col("l_quantity"))).otherwise(0L)).as("qty97"))
      val pf = t(s, dir, "part")
        .filter(col("p_name").like("small%")).select(col("p_partkey"))
      val excess = qty
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"), "left_semi")
        .filter(col("total_qty") > col("qty97") * 2)
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("n_name"))
    },
      oracle =
        """WITH qty AS (
          |  SELECT l_partkey, l_suppkey,
          |         cast(sum(cast(floor(l_quantity) as bigint)) as bigint) AS total_qty,
          |         cast(sum(CASE WHEN year(l_shipdate) = 1997
          |                       THEN cast(floor(l_quantity) as bigint)
          |                       ELSE 0 END) as bigint) AS qty97
          |  FROM lineitem GROUP BY 1, 2),
          |excess AS (
          |  SELECT l_suppkey FROM qty JOIN part ON l_partkey = p_partkey
          |  WHERE p_name LIKE 'small%' AND total_qty > 2 * qty97
          |  GROUP BY 1)
          |SELECT s_name, n_name
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |WHERE s_suppkey IN (SELECT l_suppkey FROM excess)""".stripMargin),
    // TPC-H Q15 shape: top supplier(s) by quarterly revenue — the
    // revenue view is aggregated once, its scalar max broadcasts back
    // as a 1-row frame, and ties all surface (both engines agree on
    // the full max set, keeping the gate deterministic without LIMIT)
    Record("tpch_q15", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.join(broadcast(mx)).filter(col("total_revenue") === col("mx"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },
      oracle =
        """WITH rev AS (
          |  SELECT l_suppkey,
          |         cast(sum(cast(floor(l_extendedprice * (1 - l_discount)) as bigint)) as bigint)
          |           AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM rev JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin),
    // TPC-H Q8 shape: market share — one supplier nation's slice of a
    // region's market for a part type, per year. The ratio is the
    // integer pair (nation_rev, total_rev) like tpch_q14; the fact
    // table threads two dim chains (supplier→nation for the numerator
    // tag, customer→nation→region for the market filter), all dims
    // broadcast, one group-by exchange on the year
    Record("tpch_q8", (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val r = t(s, dir, "region")
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(0L)).as("nation_rev"),
          sum(col("volume")).as("total_rev"))
    },
      oracle =
        """SELECT o_year,
          |  cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
          |                ELSE 0 END) as bigint) AS nation_rev,
          |  cast(sum(volume) as bigint) AS total_rev FROM (
          |  SELECT cast(year(o_orderdate) as bigint) AS o_year,
          |         n2.n_name AS supp_nation,
          |         cast(floor(l_extendedprice * (1 - l_discount)) as bigint) AS volume
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
          |  JOIN region ON n1.n_regionkey = r_regionkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
          |  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
          |    AND o_orderdate >= TIMESTAMP '1996-01-01'
          |    AND o_orderdate < TIMESTAMP '1998-01-01'
          |) GROUP BY o_year""".stripMargin),
  )
}
