package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** Data curation: data-quality profiles, rules and outliers, drift,
  * the sampling and splitting operators, table diffs and the
  * partitioned and z-ordered storage layouts.
  */
private[graft] object CurationQueries {

  /** dq profiles' columns of `orders`. */
  private val profiledOrderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  def records: Seq[Record] = Seq(
    // deterministic per-epoch training shuffle — the data-loader
    // primitive: each epoch is an independent, reproducible, seeded
    // permutation of the corpus (priority = md5(doc_id | epoch), so
    // epoch 2's order is uncorrelated with epoch 1's but identical on
    // every re-run and engine — an RNG-free shuffle that resumes after
    // failure at any offset). The head of each epoch's order is the
    // gated sample; rank ≤ 20 pushes below the per-epoch exchange as
    // WindowGroupLimit, so the shuffle carries candidates, not corpus
    Record("sample_epoch_shuffle", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("epoch"))
        .orderBy(col("prio"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2))).as("epoch"))
        .withColumn("prio", conv(substring(
          md5(concat_ws("|", col("doc_id"), col("epoch"))), 1, 8), 16, 10)
          .cast("long"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .select(col("epoch").cast("long").as("epoch"), col("doc_id"),
          col("rank").cast("long").as("rank"))
    },
      oracle =
        """WITH x AS (
          |  SELECT doc_id, epoch,
          |         CAST(('0x' || substr(md5(doc_id || '|' || epoch), 1, 8))
          |              AS BIGINT) AS prio
          |  FROM documents, unnest([0, 1, 2]) AS t(epoch))
          |SELECT cast(epoch as bigint) AS epoch, doc_id,
          |       cast("rank" as bigint) AS "rank"
          |FROM (
          |  SELECT *, row_number() OVER (PARTITION BY epoch
          |    ORDER BY prio, doc_id) AS "rank"
          |  FROM x)
          |WHERE "rank" <= 20""".stripMargin),
    // PARTITIONED LAYOUT + DYNAMIC PARTITION PRUNING — the 100 TB
    // fact-table idiom the flat testdata can't show: the fact written
    // hive-partitioned on a derived key (order month), joined to a
    // tiny dim filtered on an attribute (quarter), and Spark's DPP
    // turns the dim's broadcast into a runtime partition filter on the
    // fact scan — 9 of 12 partition directories are never opened.
    // Gate: (a) the executed plan carries a dynamicpruning partition
    // filter (falsifiable — flat scans never show one), (b) the
    // pruned-join result equals the same aggregate replayed on the raw
    // unpartitioned table (which the oracle recomputes). The partitioned
    // write is ingest cost, paid once per session.
    Record("layout_partitioned_dpp", (s, dir) => {
      val o = t(s, dir, "orders")
      val path = deleteAtExit(tmpPath(s"graft-dpp-${sessionKey(s, dir)}"))
      if (!pathExists(s, path))
        o.withColumn("om", month(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("om").parquet(path)
      // the month→quarter dim derives from the raw PARQUET table, not a
      // local Seq: Catalyst folds a filtered LocalRelation to literal
      // rows, and with no selective predicate left on the filtering
      // side the DPP rule never fires (measured — dpp_plan_ok false)
      val dim = o.select(month(col("o_orderdate")).as("om")).distinct()
        .withColumn("qtr", expr("(om - 1) div 3 + 1"))
      s.read.parquet(path).join(dim.filter(col("qtr") === 1), Seq("om"))
        .agg(count(lit(1)).as("n_q1"), sum(col("o_orderkey")).as("key_sum"))
    },
      // the same aggregate over the raw unpartitioned table is the verifier
      check = Some((s, dir, run) => {
        val dppOk = run.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning")
        val raw = t(s, dir, "orders").filter(month(col("o_orderdate")) <= 3)
          .agg(count(lit(1)).as("n_raw"), sum(col("o_orderkey")).as("sum_raw"))
        run.crossJoin(raw)
          .select(col("n_q1"), lit(dppOk).as("dpp_plan_ok"),
            (col("n_q1") === col("n_raw") &&
              col("key_sum") === col("sum_raw")).as("equal_raw_ok"))
      }),
      // DPP gate: the oracle recomputes the Q1 rowcount from the raw
      // table (month 1-3); the dynamicpruning plan assertion and the
      // partitioned-vs-raw equality are Spark-side
      oracle =
        """SELECT cast(count(*) as bigint) AS n_q1,
          |       true AS dpp_plan_ok, true AS equal_raw_ok
          |FROM orders WHERE month(o_orderdate) <= 3""".stripMargin),
    // one-pass TABLE PROFILER — the ANALYZE-style column statistics a
    // pipeline collects before planning over unknown data: per column
    // null count, exact distinct count, min/max (string-rendered for a
    // uniform schema). One scan: Spark rewrites the multi-distinct
    // aggregate through one Expand (row × #distinct-aggs), still a
    // single pass over the table — at 100 TB the exact ndv swaps for
    // the HLL sketch family (distinct_hll) with the same shape.
    // one single-distinct aggregate PER COLUMN, crossJoined into the
    // same 1-row relation (optimization round 11, guide §2.3): the old
    // single aggregate with FOUR countDistinct columns rewrites through
    // Expand — every input row multiplied ×5 (one projection per
    // distinct column + one for the plain aggregates) at the table's
    // full width before the shuffle, the documented 100 TB hazard that
    // dq_profile_approx exists to avoid. Per-column aggregates plan as
    // plain two-phase distinct aggregates (partial on the value — no
    // Expand anywhere), each scanning ONE parquet column, and the
    // subtrees execute as independent stages of one job. Same 16
    // values, same stack(), bit-identical output.
    Record("dq_profile", (s, dir) => {
      val o = t(s, dir, "orders")
      val cols = profiledOrderCols
      def prof(c: String) = o.agg(
        count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
      val one = cols.map(prof).reduce(_.crossJoin(_))
      one.select(expr("stack(" + cols.length + ", " +
        cols.map(c => s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max")
          .mkString(", ") +
        ") as (col_name, n_nulls, n_distinct, min_val, max_val)"))
    },
      oracle =
        """SELECT 'o_orderkey' AS col_name,
          |       cast(count(*) FILTER (o_orderkey IS NULL) as bigint) AS n_nulls,
          |       cast(count(DISTINCT o_orderkey) as bigint) AS n_distinct,
          |       cast(min(o_orderkey) as varchar) AS min_val,
          |       cast(max(o_orderkey) as varchar) AS max_val
          |FROM orders
          |UNION ALL
          |SELECT 'o_custkey',
          |       cast(count(*) FILTER (o_custkey IS NULL) as bigint),
          |       cast(count(DISTINCT o_custkey) as bigint),
          |       cast(min(o_custkey) as varchar),
          |       cast(max(o_custkey) as varchar)
          |FROM orders
          |UNION ALL
          |SELECT 'o_orderstatus',
          |       cast(count(*) FILTER (o_orderstatus IS NULL) as bigint),
          |       cast(count(DISTINCT o_orderstatus) as bigint),
          |       min(o_orderstatus), max(o_orderstatus)
          |FROM orders
          |UNION ALL
          |SELECT 'o_orderpriority',
          |       cast(count(*) FILTER (o_orderpriority IS NULL) as bigint),
          |       cast(count(DISTINCT o_orderpriority) as bigint),
          |       min(o_orderpriority), max(o_orderpriority)
          |FROM orders""".stripMargin),
    // the AT-SCALE profiler (round-9 verdict item 6): ndv from
    // approx_count_distinct (HLL++, one pass, NO Expand — the exact
    // multi-distinct above rewrites through Expand, a cols× row
    // multiplication that is a full-width shuffle per distinct column
    // at 100 TB; see PLANS.md). Null counts and min/max stay exact
    // (cheap single-pass aggregates). The run is the sketch-only
    // profile; its check recomputes the exact ndv (the VERIFIER, not
    // the operator) and emits the same row shape with
    // nd_ok = |hll − exact| ≤ 15%·exact per column.
    Record("dq_profile_approx", (s, dir) => {
      val o = t(s, dir, "orders")
      def prof(c: String) = Seq(
        count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        approx_count_distinct(col(c), 0.05).as(s"${c}_and"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
      val exprs = profiledOrderCols.flatMap(prof)
      o.agg(exprs.head, exprs.tail: _*)
        .select(expr("stack(" + profiledOrderCols.length + ", " +
          profiledOrderCols.map(c => s"'$c', ${c}_nulls, ${c}_and, ${c}_min, ${c}_max")
            .mkString(", ") +
          ") as (col_name, n_nulls, n_distinct_approx, min_val, max_val)"))
    },
      // the exact ndv per column is the verifier: nd_ok pins the sketch
      // within 15% of it
      check = Some((s, dir, run) => {
        val o = t(s, dir, "orders")
        val exact = profiledOrderCols
          .map(c => o.agg(lit(c).as("col_name"), countDistinct(col(c)).as("n_distinct")))
          .reduce(_ union _)
        run.join(exact, Seq("col_name"))
          .select(col("col_name"), col("n_nulls"),
            (abs(col("n_distinct_approx") - col("n_distinct")) * 100
              <= col("n_distinct") * 15).as("nd_ok"),
            col("min_val"), col("max_val"))
      }),
      // approx profiler gate: nulls/min/max replay exactly; the HLL
      // tolerance check is Spark-side (the exact ndv is the verifier)
      oracle =
        """SELECT 'o_orderkey' AS col_name,
          |       cast(count(*) FILTER (o_orderkey IS NULL) as bigint) AS n_nulls,
          |       true AS nd_ok,
          |       cast(min(o_orderkey) as varchar) AS min_val,
          |       cast(max(o_orderkey) as varchar) AS max_val
          |FROM orders
          |UNION ALL
          |SELECT 'o_custkey',
          |       cast(count(*) FILTER (o_custkey IS NULL) as bigint),
          |       true,
          |       cast(min(o_custkey) as varchar),
          |       cast(max(o_custkey) as varchar)
          |FROM orders
          |UNION ALL
          |SELECT 'o_orderstatus',
          |       cast(count(*) FILTER (o_orderstatus IS NULL) as bigint),
          |       true,
          |       min(o_orderstatus), max(o_orderstatus)
          |FROM orders
          |UNION ALL
          |SELECT 'o_orderpriority',
          |       cast(count(*) FILTER (o_orderpriority IS NULL) as bigint),
          |       true,
          |       min(o_orderpriority), max(o_orderpriority)
          |FROM orders""".stripMargin),
    // APPROXIMATE EQUI-DEPTH HISTOGRAM with a tolerance gate (round-10
    // verdict item 5, the dq_profile_approx pattern for quantiles): the
    // scale path is percentile_approx's mergeable sketch — one pass, no
    // sort, bounded rank error ε = 1/accuracy — and the gate holds it
    // to the sketch's own contract: for each decile edge the sketch
    // returns, the edge's TRUE rank (count of rows ≤ it, one broadcast
    // of 9 edges over a second scan) must sit within a 10·ε·n window of
    // the target rank. The exact edges come from a rank computation and
    // are oracle-replayed in DuckDB; the approximate values themselves
    // stay OUT of the hashed output (a sketch may legally vary), only
    // their gated booleans land. The exact side's single-partition
    // window sort is the ORACLE baseline, same class as the dedup
    // *Exhaustive forms — at 100 TB only the sketch path runs.
    Record("dq_histogram_approx", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = t(s, dir, "orders").select(floor(col("o_totalprice")).as("x"))
      val n = b.count()
      val targets = (1 to 9).map(k => (k, k * n / 10L))
      val spark2 = s
      import spark2.implicits._
      val targetDf = targets.toDF("decile", "target_rank")
      val exact = b
        .select(col("x"), row_number().over(Window.orderBy(col("x"))).as("rn"))
        .join(broadcast(targetDf), col("rn") === col("target_rank"))
        .select(col("decile"), col("x").as("exact_edge"))
      val approx = b
        .agg(percentile_approx(col("x"),
          array((1 to 9).map(k => lit(k / 10.0)): _*), lit(1000)).as("ap"))
        .select(posexplode(col("ap")).as(Seq("pos", "approx_edge")))
        .select((col("pos") + 1).cast("int").as("decile"), col("approx_edge"))
      val approxRanks = b.join(broadcast(approx))
        .groupBy(col("decile"), col("approx_edge"))
        .agg(sum(when(col("x") <= col("approx_edge"), 1L).otherwise(0L))
          .as("approx_rank"))
      exact.join(approxRanks, "decile").join(broadcast(targetDf), "decile")
        .select(col("decile").cast("long").as("decile"), col("exact_edge"),
          (abs(col("approx_rank") - col("target_rank")) <= lit(10L * n / 1000L + 1L))
            .as("rank_ok"))
    },
      // equi-depth histogram gate: exact decile edges replayed via the
      // rank computation; the sketch's rank-window booleans pinned true
      oracle =
        """WITH b AS (SELECT cast(floor(o_totalprice) as bigint) AS x FROM orders),
          |n AS (SELECT count(*) AS n FROM b),
          |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM b),
          |k AS (SELECT unnest(generate_series(1, 9)) AS decile)
          |SELECT cast(k.decile as bigint) AS decile, r.x AS exact_edge,
          |       true AS rank_ok
          |FROM k CROSS JOIN n JOIN r ON r.rn = k.decile * n.n // 10""".stripMargin),
    // DOMAIN-MIXTURE RESAMPLING — rebalance the corpus toward a
    // uniform per-domain mixture under a 30% token budget (the
    // Pile/Dolma-style source reweighting step): per-domain acceptance
    // rate in basis points = the domain's share of the uniform budget,
    // capped at keep-all; membership decided by a deterministic
    // multiplicative hash of the doc id, so the sample is reproducible
    // (and oracle-replayable) independent of partitioning. One scan +
    // two tiny broadcast relations (counts, rates); all arithmetic
    // integer (div truncation pinned on both sides).
    Record("sample_mixture", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the uniform mixture is the weights ≡ 1 case of the
      // parameterized resampler (Sampling.mixtureResample)
      val weights = docs.select(col("source")).distinct()
        .withColumn("weight", lit(1L))
      Sampling.mixtureResample(docs, "doc_id", "source", weights)
        .select(col("source"), col("n_domain"), col("rate_bp"), col("n_sampled"))
    },
      // mixture resampling: full integer replay — per-domain counts,
      // uniform 30%-budget share, bp rate, and the multiplicative-hash
      // membership test
      oracle =
        """WITH c AS (SELECT source, count(*) AS n_domain
          |           FROM documents GROUP BY source),
          |t AS (SELECT count(*) AS n, count(DISTINCT source) AS k
          |      FROM documents),
          |r AS (SELECT source, n_domain,
          |             least(10000, ((n * 3 // 10) // k) * 10000 // n_domain)
          |               AS rate_bp
          |      FROM c, t)
          |SELECT r.source, cast(r.n_domain as bigint) AS n_domain,
          |       cast(r.rate_bp as bigint) AS rate_bp,
          |       cast(count(*) FILTER (
          |         (d.doc_id * 2654435761) % 10000 < r.rate_bp) as bigint)
          |         AS n_sampled
          |FROM documents d JOIN r ON d.source = r.source
          |GROUP BY r.source, r.n_domain, r.rate_bp""".stripMargin),
    // the SAME resampler under a NON-UNIFORM target distribution
    // (round-9 verdict item 5: an operator that computes one mixture is
    // a demo) — per-domain weights arrive as a relation; here a
    // deterministic non-uniform weighting derived from the source name
    // so the full integer replay stays oracle-checkable. A real
    // pipeline passes its curated (domain, weight) table.
    Record("sample_mixture_weighted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = docs.select(col("source")).distinct()
        .withColumn("weight", length(col("source")).cast("long") % 5L + 1L)
      Sampling.mixtureResample(docs, "doc_id", "source", weights)
    },
      // weighted mixture: identical integer replay with the
      // name-derived non-uniform weights (length(source) % 5 + 1)
      oracle =
        """WITH c AS (SELECT source, count(*) AS n_domain
          |           FROM documents GROUP BY source),
          |w AS (SELECT source, length(source) % 5 + 1 AS weight
          |      FROM (SELECT DISTINCT source FROM documents)),
          |t AS (SELECT count(*) AS n FROM documents),
          |wt AS (SELECT cast(sum(weight) as bigint) AS w_total FROM w),
          |r AS (SELECT c.source, c.n_domain, w.weight,
          |             least(10000, ((n * 3 // 10) * weight // w_total)
          |               * 10000 // n_domain) AS rate_bp
          |      FROM c JOIN w ON c.source = w.source, t, wt)
          |SELECT r.source, cast(r.n_domain as bigint) AS n_domain,
          |       cast(r.weight as bigint) AS weight,
          |       cast(r.rate_bp as bigint) AS rate_bp,
          |       cast(count(*) FILTER (
          |         (d.doc_id * 2654435761) % 10000 < r.rate_bp) as bigint)
          |         AS n_sampled
          |FROM documents d JOIN r ON d.source = r.source
          |GROUP BY r.source, r.n_domain, r.weight, r.rate_bp""".stripMargin),
    // token-budget source mixing (the training-data curriculum weighting
    // step): each source is assigned a share of a global TOKEN budget
    // (40/30/20/10% of a 30%-of-corpus budget, in integer basis points),
    // and docs are admitted per source in deterministic md5-priority
    // order until the source's budget fills. Admission is a per-source
    // cumulative window over slim (source, prio, n_tok) rows — the
    // corpus text itself never shuffles, and the priority is engine-
    // independent (md5, not a Spark-private hash), so re-runs and the
    // oracle admit IDENTICAL docs
    Record("sample_token_budget", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("int").as("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long").as("prio"))
      val total = d.agg(sum(col("n_tok")).as("total_tok"))
      val w = Window.partitionBy(col("source")).orderBy(col("prio"), col("doc_id"))
      d.crossJoin(broadcast(total))
        .withColumn("bp", expr(
          "CASE source WHEN 0 THEN 1200 WHEN 1 THEN 900 WHEN 2 THEN 600 ELSE 300 END"))
        .withColumn("budget_tok", expr("(total_tok * bp) div 10000"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .filter(col("cum") <= col("budget_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_tok")).as("n_tokens_kept"),
          max(col("budget_tok")).as("budget_tok"))
    },
      oracle =
        """WITH d AS (
          |  SELECT doc_id, cast(doc_id % 4 as int) AS source,
          |         len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS n_tok,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS prio
          |  FROM documents),
          |tot AS (SELECT cast(sum(n_tok) as bigint) AS total_tok FROM d),
          |b AS (SELECT d.*, total_tok,
          |        CASE source WHEN 0 THEN 1200 WHEN 1 THEN 900
          |                    WHEN 2 THEN 600 ELSE 300 END AS bp,
          |        cast((total_tok * CASE source WHEN 0 THEN 1200 WHEN 1 THEN 900
          |                          WHEN 2 THEN 600 ELSE 300 END) // 10000 as bigint)
          |          AS budget_tok,
          |        cast(sum(n_tok) OVER (PARTITION BY source
          |          ORDER BY prio, doc_id) as bigint) AS cum
          |      FROM d, tot)
          |SELECT source, count(*) AS n_docs_kept,
          |       cast(sum(n_tok) as bigint) AS n_tokens_kept,
          |       cast(max(budget_tok) as bigint) AS budget_tok
          |FROM b WHERE cum <= budget_tok GROUP BY source""".stripMargin),
    // data-quality assertions as a query: per event_type null/range/
    // duplicate-id counters — the pipeline gate that runs before training
    Record("events_dq", (s, dir) =>
      Engine.eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
          sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_neg_value"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("n_dup_ids"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value")),
      oracle =
        """SELECT event_type, count(*) AS n_rows,
          |       cast(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null_props,
          |       cast(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) as bigint) AS n_neg_value,
          |       count(*) - count(DISTINCT event_id) AS n_dup_ids,
          |       min(value) AS min_value, max(value) AS max_value
          |FROM events GROUP BY event_type""".stripMargin),
    // distribution drift between the train and test splits: token-count
    // histogram L1 distance in CROSS-MULTIPLIED integer form —
    // Σ_b |c_train[b]·N_test − c_test[b]·N_train| is the L1 distance
    // scaled by N_train·N_test, so the drift statistic is exact integer
    // arithmetic (no normalization floats) and hash-gateable. The mix-
    // monitoring probe of a training pipeline: a biased split or a
    // shifted ingest batch moves it sharply; rerun it per snapshot and
    // diff. One scan + one 10-row aggregate
    Record("drift_l1", (s, dir) => {
      val d = Sampling.deterministicSplit(
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
        col("doc_id"))
      val counts = d
        .withColumn("bucket", least(lit(9L), expr("n_tok div 10")))
        .groupBy(col("bucket"))
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("c_test"))
      val tot = counts.agg(sum(col("c_train")).as("n_train"),
        sum(col("c_test")).as("n_test"))
      counts.crossJoin(broadcast(tot))
        .agg(sum(abs(col("c_train") * col("n_test")
          - col("c_test") * col("n_train"))).as("l1_cross"),
          max(col("n_train")).as("n_train"), max(col("n_test")).as("n_test"))
    },
      oracle =
        """WITH d AS (
          |  SELECT least(9, len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT // 10) AS bucket,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |  FROM documents),
          |c AS (
          |  SELECT bucket,
          |         cast(sum(CASE WHEN b < 80 THEN 1 ELSE 0 END) as bigint) AS c_train,
          |         cast(sum(CASE WHEN b >= 90 THEN 1 ELSE 0 END) as bigint) AS c_test
          |  FROM d GROUP BY bucket),
          |t AS (SELECT cast(sum(c_train) as bigint) AS n_train,
          |             cast(sum(c_test) as bigint) AS n_test FROM c)
          |SELECT cast(sum(abs(c_train * n_test - c_test * n_train)) as bigint) AS l1_cross,
          |       max(n_train) AS n_train, max(n_test) AS n_test
          |FROM c, t""".stripMargin),
    // PSI over the same fixed token-count bins (round-10 verdict item
    // 5): the monitoring-standard drift statistic — Σ (p−q)·ln(p/q)
    // with +1 Laplace smoothing per observed bin (denominator n +
    // n_buckets), so an empty bin on one side contributes a finite
    // penalty instead of ±∞. Reported in floor'd micro-units; every
    // count feeding the formula is exact-integer and replayed by the
    // oracle, ln is IEEE double in both engines over identical
    // rationals. Same plan shape as drift_l1: one scan, one tiny
    // aggregate broadcast back — nothing corpus-sized moves.
    Record("drift_psi", (s, dir) => {
      val d = Sampling.deterministicSplit(
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
        col("doc_id"))
      val counts = d
        .withColumn("bucket", least(lit(9L), expr("n_tok div 10")))
        .groupBy(col("bucket"))
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("c_test"))
      val tot = counts.agg(sum(col("c_train")).as("n_train"),
        sum(col("c_test")).as("n_test"), count(lit(1)).as("n_buckets"))
      counts.crossJoin(broadcast(tot))
        .select(
          ((col("c_train") + 1L).cast("double")
            / (col("n_train") + col("n_buckets")).cast("double")).as("p"),
          ((col("c_test") + 1L).cast("double")
            / (col("n_test") + col("n_buckets")).cast("double")).as("q"),
          col("n_train"), col("n_test"))
        // floor each bucket's term to micro-units BEFORE summing: the
        // per-term doubles are identical rationals in both engines, but
        // a double SUM is order-dependent (partial aggregation vs the
        // oracle's order) — summing already-floored integers makes the
        // pinned value order-free. Residual cross-engine risk is the
        // ln libm ulp (Math.log vs DuckDB's log are each ≤1 ulp off
        // correctly-rounded, so a term within ~1e-10 micro-units of a
        // floor boundary could flip); MEASURED margin on this data:
        // the nearest term-to-boundary distance across sf0.001/0.01/
        // 0.1 is 0.036 micro-units — 8 orders of magnitude above the
        // noise, same margin class as the cosine-threshold pair gates
        // (dedup_embedding_exact's 8e-6 vs 1e-7 note). PSI terms are
        // non-negative ((p−q) and ln(p/q) share sign), so each floor
        // drops < 1 micro-unit.
        .select(
          floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e6)
            .cast("long").as("term_micro"),
          col("n_train"), col("n_test"))
        .agg(
          sum(col("term_micro")).as("psi_micro"),
          max(col("n_train")).as("n_train"), max(col("n_test")).as("n_test"))
    },
      // PSI over the same bins, identical Laplace smoothing; ln over
      // identical rationals in both engines, floor'd to micro-units
      oracle =
        """WITH d AS (
          |  SELECT least(9, len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT // 10) AS bucket,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |  FROM documents),
          |c AS (
          |  SELECT bucket,
          |         cast(sum(CASE WHEN b < 80 THEN 1 ELSE 0 END) as bigint) AS c_train,
          |         cast(sum(CASE WHEN b >= 90 THEN 1 ELSE 0 END) as bigint) AS c_test
          |  FROM d GROUP BY bucket),
          |t AS (SELECT cast(sum(c_train) as bigint) AS n_train,
          |             cast(sum(c_test) as bigint) AS n_test,
          |             cast(count(*) as bigint) AS n_buckets FROM c),
          |pq AS (SELECT (c_train + 1)::DOUBLE / (n_train + n_buckets) AS p,
          |              (c_test + 1)::DOUBLE / (n_test + n_buckets) AS q,
          |              n_train, n_test
          |       FROM c, t),
          |tm AS (SELECT cast(floor((p - q) * ln(p / q) * 1e6) as bigint) AS term_micro,
          |              n_train, n_test
          |       FROM pq)
          |SELECT cast(sum(term_micro) as bigint) AS psi_micro,
          |       max(n_train) AS n_train, max(n_test) AS n_test
          |FROM tm""".stripMargin),
    // referential-integrity audit: fact rows whose FK has no dim match,
    // per FK — left-anti probes (broadcast for dims, shuffled at scale).
    // n_orphan_* = 0 gates the testdata's integrity; the _halfdim
    // column PROVES the probe detects breaks (dim restricted to even
    // keys → real orphan count)
    // one-pass expectation suite (the Deequ/great-expectations shape):
    // null / range / set-membership / uniqueness checks all ride ONE
    // scan of the fact table as conditional aggregates — no rule pays
    // its own pass; referential rules stay in dq_orphans (they need an
    // anti-join, not a scan)
    Record("dq_rules", (s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("n_nonpos_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("n_bad_status"),
        sum(when(col("o_orderdate").isNull ||
          col("o_orderdate") < to_timestamp(lit("1990-01-01")), 1L).otherwise(0L))
          .as("n_bad_date"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_dup_keys")),
      oracle =
        """SELECT count(*) AS n_rows,
          |       cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null_cust,
          |       cast(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) as bigint) AS n_nonpos_price,
          |       cast(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) as bigint) AS n_bad_status,
          |       cast(sum(CASE WHEN o_orderdate IS NULL
          |                       OR o_orderdate < TIMESTAMP '1990-01-01' THEN 1 ELSE 0 END) as bigint) AS n_bad_date,
          |       count(*) - count(DISTINCT o_orderkey) AS n_dup_keys
          |FROM orders""".stripMargin),
    // statistical outlier audit, EXACT integer arithmetic end-to-end:
    // per group, count rows with |x − μ| > 1.5σ via the cross-multiplied
    // inequality 4·(n·x − S)² > 9·(n·Q − S²) where S = Σx, Q = Σx² —
    // no float mean/stddev ever materializes, so the gate hash-matches
    // DuckDB's hugeint evaluation bit-for-bit. (1.5σ, not 3σ: the
    // testdata's bounded-uniform columns have NO mass beyond √3·σ ≈
    // 1.73σ by construction; the arithmetic pattern is identical at any
    // threshold.) Decimal(38) products keep the cross-multiplication
    // exact far past Long range (n·x up to ~1e19 at a 1e9-row group ×
    // 50-bounded metric would overflow Long). Plan: one stats aggregate
    // (3 rows) broadcast back over one fact scan — two passes, no
    // per-group window sort.
    Record("dq_outliers_z", (s, dir) => {
      val dec = "decimal(38,0)"
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), floor(col("l_quantity")).as("x"))
      val stats = base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
      val dev = (col("n").cast(dec) * col("x") - col("s").cast(dec))
      val varN2 = (col("n").cast(dec) * col("q").cast(dec)
        - col("s").cast(dec) * col("s").cast(dec))
      base.join(broadcast(stats), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          when(dev * dev * 4 > varN2 * 9, 1L).otherwise(0L).as("is_out"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n_rows"), sum(col("is_out")).as("n_outliers"))
    },
      // exact integer z-score outliers: DuckDB's hugeint evaluates the
      // cross-multiplied inequality exactly, Spark's decimal(38) dito —
      // bit-equal by construction (no float mean/stddev on either side)
      oracle =
        """WITH b AS (SELECT l_returnflag, cast(floor(l_quantity) as bigint) AS x
          |           FROM lineitem),
          |st AS (SELECT l_returnflag, count(*) AS n, sum(x) AS s, sum(x*x) AS q
          |       FROM b GROUP BY 1)
          |SELECT l_returnflag, cast(max(n) as bigint) AS n_rows,
          |       cast(sum(CASE WHEN 4*(n*x - s)*(n*x - s) > 9*(n*q - s*s)
          |                     THEN 1 ELSE 0 END) as bigint) AS n_outliers
          |FROM b JOIN st USING (l_returnflag) GROUP BY l_returnflag""".stripMargin),
    Record("dq_orphans", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
      def orphans(fk: String, dim: DataFrame, dk: String) =
        li.join(dim, col(fk) === col(dk), "left_anti")
          .agg(count(lit(1)).as(s"n_orphan_$fk"))
      val halfDim = t(s, dir, "part")
        .filter(col("p_partkey") % 2 === 0).select(col("p_partkey"))
      orphans("l_partkey", t(s, dir, "part").select(col("p_partkey")), "p_partkey")
        .crossJoin(orphans("l_suppkey",
          t(s, dir, "supplier").select(col("s_suppkey")), "s_suppkey")
          .withColumnRenamed("n_orphan_l_suppkey", "n_orphan_supp"))
        .withColumnRenamed("n_orphan_l_partkey", "n_orphan_part")
        .crossJoin(li.join(halfDim, col("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_halfdim")))
    },
      oracle =
        """SELECT
          |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
          |     (SELECT p_partkey FROM part)) AS n_orphan_part,
          |  (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
          |     (SELECT s_suppkey FROM supplier)) AS n_orphan_supp,
          |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
          |     (SELECT p_partkey FROM part WHERE p_partkey % 2 = 0)) AS n_orphan_halfdim""".stripMargin),
    // deterministic content-hash train/valid/test split (stable across
    // runs, partitionings, and engines — md5-derived bucket)
    Record("sample_split", (s, dir) =>
      Sampling.deterministicSplit(t(s, dir, "documents"), col("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars")),
      // identical md5-derived bucket on both sides: first 8 hex chars of
      // md5(doc_id) as an unsigned int, mod 100
      oracle =
        """WITH d AS (SELECT text,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |  FROM documents)
          |SELECT CASE WHEN b < 80 THEN 'train'
          |            WHEN b < 90 THEN 'valid'
          |            ELSE 'test' END AS split,
          |       count(*) AS n_docs,
          |       cast(sum(length(text)) as bigint) AS n_chars
          |FROM d GROUP BY 1""".stripMargin),
    // leakage-free split (GroupShuffleSplit over near-dup clusters): a
    // hash split of raw doc_ids puts near-duplicates of training docs
    // into the test set — the classic eval-contamination bug. Here the
    // split key is the near-dup CLUSTER label (min doc_id per connected
    // component of exact 5-gram-Jaccard >= 0.5 pairs; singletons label
    // themselves), so a whole duplicate family lands in ONE split by
    // construction. The oracle replays everything — pair generation,
    // the transitive closure, the md5 split — so a wrong component
    // label shifts a count and fails the hash. The corpus-scale path
    // (banded-LSH candidates instead of exact all-pairs, over the full
    // table) can miss a pair and so merge fewer clusters; its counts hold
    // no contract against these, so it is not timed separately
    Record("sample_split_safe", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.5)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val labeled = docs
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("label", coalesce(col("cluster_id"), col("doc_id")))
      Sampling.deterministicSplit(labeled, col("label"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("label")).as("n_groups"),
          sum(length(col("text")).cast("long")).as("n_chars"))
    },
      // dedup_cluster's exact pair + transitive-closure replay, then
      // the sample_split md5 bucketing applied to the CLUSTER label
      oracle =
        """WITH RECURSIVE
          |dd AS (SELECT doc_id, text,
          |         lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |       FROM documents WHERE doc_id < 500),
          |g AS (SELECT doc_id,
          |        CASE WHEN length(t) < 5 THEN [t]
          |             ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |      FROM dd),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM g a JOIN g b ON a.doc_id < b.doc_id
          |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
          |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
          |reach(s, d) AS (SELECT s, d FROM e
          |                UNION
          |                SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
          |labels AS (SELECT s AS node, least(s, min(d)) AS cluster_id
          |           FROM reach GROUP BY s),
          |lab AS (SELECT dd.doc_id, dd.text,
          |          coalesce(l.cluster_id, dd.doc_id) AS label
          |        FROM dd LEFT JOIN labels l ON l.node = dd.doc_id),
          |sp AS (SELECT text, label,
          |         CAST(('0x' || substr(md5(CAST(label AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |       FROM lab)
          |SELECT CASE WHEN b < 80 THEN 'train'
          |            WHEN b < 90 THEN 'valid'
          |            ELSE 'test' END AS split,
          |       count(*) AS n_docs,
          |       count(DISTINCT label) AS n_groups,
          |       cast(sum(length(text)) as bigint) AS n_chars
          |FROM sp GROUP BY 1""".stripMargin),
    // exactly-k-per-group deterministic sample (reservoir semantics,
    // RNG-free): rank by md5(doc_id) within each source, keep the 10
    // lowest — the "k docs per source" curation/eyeball sample, stable
    // across runs and engines; the oracle replays the identical ranking
    Record("sample_bottomk", (s, dir) =>
      Sampling.bottomKPerGroup(t(s, dir, "documents"), col("doc_id"),
          col("source"), k = 10)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk")),
      oracle =
        """SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
          |  SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM documents)
          |WHERE rk <= 10""".stripMargin),
    // stratified deterministic sample: per-stratum keep percentage
    // (downsample the boilerplate strata, keep the rare ones)
    Record("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(Engine.eventsTable(s, dir), col("event_id"),
        col("event_type"),
        Map("view" -> 10, "click" -> 75, "purchase" -> 100), defaultPct = 50)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_kept")),
      // same md5-derived bucket as sample_split, per-stratum percentage
      oracle =
        """WITH d AS (SELECT event_type,
          |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |  FROM events)
          |SELECT event_type, count(*) AS n_kept
          |FROM d
          |WHERE b < CASE event_type WHEN 'view' THEN 10 WHEN 'click' THEN 75
          |                          WHEN 'purchase' THEN 100 ELSE 50 END
          |GROUP BY event_type""".stripMargin),
    // deterministic importance sampling: keep probability ∝ token count
    // (capped at 90%) — the quality-weighted mix step, RNG-free so the
    // oracle recomputes the exact kept set from the same md5 buckets
    Record("sample_weighted", (s, dir) => {
      val d = t(s, dir, "documents")
      val w = least(lit(90L), TextAnalysis.tokenCount(col("text")).cast("long"))
      // ONE conditional-aggregate pass (optimization round 12, guide
      // §1.2/§2.3): the filtered-subset aggregates and the whole-corpus
      // denominator previously ran as two scans of `documents`
      // crossJoined (4 jobs, the corpus read twice — at 100 TB the
      // second scan doubles the row's I/O). count(when(keep,1)) /
      // sum(when(keep,len)) over one scan equal count/sum over the
      // filtered subset exactly (nulls are not counted/summed), which
      // is also precisely the oracle's one-pass `FILTER (WHERE …)`
      // form. The membership predicate is the operator's own
      // (Sampling.weightedKeep — the weightedSample filter column).
      val keep = Sampling.weightedKeep(col("doc_id"), w)
      d.agg(count(when(keep, lit(1))).as("n_kept"),
        sum(when(keep, length(col("text")).cast("long"))).as("n_chars_kept"),
        count(lit(1)).as("n_total"))
    },
      oracle =
        """WITH d AS (SELECT doc_id, text,
          |    least(90, len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT) AS w,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |  FROM documents)
          |SELECT count(*) FILTER (WHERE b < w) AS n_kept,
          |       cast(sum(length(text)) FILTER (WHERE b < w) as bigint) AS n_chars_kept,
          |       count(*) AS n_total
          |FROM d""".stripMargin),
    // Z-order (Morton) clustering value: bit-interleave of the two join
    // keys — the multi-column layout key (see ops/Layout.scaladoc and
    // LayoutSpec's measured file-pruning comparison); the oracle replays
    // the identical shift/and/or arithmetic
    Record("layout_zorder", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Layout.mortonInterleave(col("l_partkey"), col("l_suppkey"), 21)
            .as("zval")),
      oracle =
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |       cast(${graft.ops.Layout.mortonSql("l_partkey", "l_suppkey", 21)} as bigint) AS zval
           |FROM lineitem WHERE l_orderkey <= 100""".stripMargin),
    // snapshot diff: two deterministic versions of the orders table
    // (old drops keys %97=0, new drops %89=0 and rewrites the priority
    // of %101=0) reconciled into added/removed/changed/unchanged counts.
    // The shuffle carries (key, md5) digests only — see Joins.tableDiff
    Record("table_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val oldSnap = o.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("p"))
      val newSnap = o.filter(col("o_orderkey") % 89 =!= 0)
        .select(col("o_orderkey"),
          concat_ws("|", col("o_orderstatus"),
            when(col("o_orderkey") % 101 === 0, lit("9-CHANGED"))
              .otherwise(col("o_orderpriority"))).as("p"))
      Joins.tableDiff(oldSnap, newSnap, "o_orderkey", "p")
    },
      oracle =
        """WITH oldv AS (
          |  SELECT o_orderkey AS k,
          |         concat_ws('|', o_orderstatus, o_orderpriority) AS p
          |  FROM orders WHERE o_orderkey % 97 <> 0),
          |newv AS (
          |  SELECT o_orderkey AS k, concat_ws('|', o_orderstatus,
          |    CASE WHEN o_orderkey % 101 = 0 THEN '9-CHANGED'
          |         ELSE o_orderpriority END) AS p
          |  FROM orders WHERE o_orderkey % 89 <> 0)
          |SELECT CASE WHEN o.p IS NULL THEN 'added'
          |            WHEN n.p IS NULL THEN 'removed'
          |            WHEN o.p <> n.p THEN 'changed'
          |            ELSE 'unchanged' END AS diff_class,
          |       count(*) AS n_rows
          |FROM oldv o FULL OUTER JOIN newv n ON o.k = n.k
          |GROUP BY 1""".stripMargin),
    // temperature-scaled source mixing (the UniMax / T5 data-mixing
    // math): sampling weight per source ∝ n_tokens^(1/T) with T = 2,
    // i.e. sqrt — upweights tail sources, downweights the head, the
    // knob every multilingual/multi-source training mix turns. Output
    // per source: token mass, the temperature weight in basis points,
    // and the token allocation under a 10%-of-corpus budget. The one
    // sqrt is IEEE-correctly-rounded in both engines on an exact
    // integer < 2^52, then IMMEDIATELY floored to integer milli-units —
    // every sum and division after that is exact integer arithmetic, so
    // no accumulation-order ulps can reach the hash gate. One aggregate
    // + one broadcast total — no second corpus pass
    Record("sample_temperature", (s, dir) => {
      val perSrc = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tok"))
        .withColumn("w",
          floor(sqrt(col("n_tok").cast("double")) * 1000.0).cast("long"))
      val totals = perSrc.agg(sum(col("w")).as("w_sum"),
        sum(col("n_tok")).as("tok_sum"))
      perSrc.crossJoin(broadcast(totals))
        .withColumn("weight_bp", expr("(w * 10000) div w_sum"))
        // allocation goes through the bp-quantized weight, not w
        // directly: w·tok_sum would overflow a long near trillion-token
        // corpora, while weight_bp ≤ 10000 keeps the product inside a
        // long to ~10^14 tokens — the bp quantization is the price
        .select(col("source"), col("n_docs"), col("n_tok"),
          col("weight_bp"),
          expr("(weight_bp * (tok_sum div 10)) div 10000").as("alloc_tok"))
    },
      oracle =
        """WITH src AS (
          |  SELECT source, count(*) AS n_docs,
          |         cast(sum(len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT)
          |              as bigint) AS n_tok
          |  FROM documents GROUP BY source),
          |w AS (SELECT *, cast(floor(sqrt(n_tok::DOUBLE) * 1000) as bigint) AS w
          |      FROM src),
          |tot AS (SELECT cast(sum(w) as bigint) AS w_sum,
          |               cast(sum(n_tok) as bigint) AS tok_sum FROM w),
          |b AS (SELECT *, cast((w * 10000) // w_sum as bigint) AS weight_bp
          |      FROM w, tot)
          |SELECT source, n_docs, n_tok, weight_bp,
          |       cast((weight_bp * (tok_sum // 10)) // 10000 as bigint)
          |         AS alloc_tok
          |FROM b""".stripMargin),
  )
}
