package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** Event streams in their batch forms: windows, sessions, stream
  * joins, funnels, retention, attribution, Markov transitions, time
  * series gap fill, resampling, smoothing and anomalies, CDC merges
  * and SCD2 history.
  */
private[graft] object EventsQueries {

  def records: Seq[Record] = Seq(
    // running DISTINCT count per user (how many distinct event types
    // seen so far at each event) — distinct doesn't decompose over
    // frames, so the scale idiom is first-seen flags (row_number = 1
    // in the (user, type) order) turned into a running sum in the
    // (user) order: two window sorts, zero joins, no per-row set state
    Record("events_cum_distinct", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_ms"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Engine.eventsTable(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("cum_types", sum(col("first_seen")).over(wRun))
        .select(col("user_id"), col("event_id"), col("cum_types"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms,
          |         event_id, event_type
          |  FROM events),
          |f AS (
          |  SELECT user_id, ts_ms, event_id,
          |         CASE WHEN row_number() OVER (
          |                PARTITION BY user_id, event_type
          |                ORDER BY ts_ms, event_id) = 1
          |              THEN 1 ELSE 0 END AS first_seen
          |  FROM e)
          |SELECT user_id, event_id,
          |       cast(sum(first_seen) OVER (PARTITION BY user_id
          |         ORDER BY ts_ms, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         as bigint) AS cum_types
          |FROM f""".stripMargin),
    Record("events_window_agg", (s, dir) =>
      Engine.eventsTable(s, dir)
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
        .select(unix_timestamp(col("w.start")).as("window_start_s"),
          col("event_type"), col("n_events"), col("sum_value_milli")),
      oracle =
        """SELECT cast(floor(epoch(ts) / 300) * 300 as bigint) AS window_start_s,
          |       event_type, count(*) AS n_events,
          |       cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS sum_value_milli
          |FROM events GROUP BY 1, 2""".stripMargin),
    Record("events_hop_window", (s, dir) =>
      // sliding 10-min windows every 5 min: each event lands in 2 windows
      Engine.eventsTable(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("w.start")).as("window_start_s"),
          col("event_type"), col("n_events")),
      oracle =
        """SELECT ws AS window_start_s, event_type, count(*) AS n_events
          |FROM events,
          |     unnest([cast(floor(epoch(ts) / 300) * 300 as bigint),
          |             cast(floor(epoch(ts) / 300) * 300 - 300 as bigint)]) AS t(ws)
          |GROUP BY 1, 2""".stripMargin),
    Record("events_sessionize", (s, dir) =>
      streaming.Events.sessionizeBatch(Engine.eventsTable(s, dir), gapMs = 30 * 60 * 1000L),
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
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          |  FROM e)
          |SELECT user_id, min(ts_ms) AS session_start, max(ts_ms) AS session_end,
          |       count(*) AS n_events
          |FROM s GROUP BY user_id, session_seq""".stripMargin),
    // Spark's NATIVE session_window operator (streaming-capable gap
    // sessionization as a groupBy key; batch execution is the oracle
    // path). end = last event + gap by definition.
    Record("events_session_window", (s, dir) =>
      Engine.eventsTable(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
          unix_millis(col("w.end")).as("session_end_ms"), col("n_events")),
      // session_window boundary: an event exactly gap after the previous
      // MERGES into the session (inclusive overlap; pinned by a spec) —
      // same > split as events_sessionize, end = last event + gap
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
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          |  FROM e)
          |SELECT user_id, min(ts_ms) AS session_start_ms,
          |       max(ts_ms) + 1800000 AS session_end_ms,
          |       count(*) AS n_events
          |FROM s GROUP BY user_id, session_seq""".stripMargin),
    // stream-stream interval join, batch execution of the same plan
    Record("events_stream_join", (s, dir) =>
      streaming.Events.clickPurchaseJoin(Engine.eventsTable(s, dir),
        withinMs = 10 * 60 * 1000L),
      // Spark compares at µs resolution (ns parquet timestamps are
      // floored to µs on ingest), so the oracle floors epoch_ns the
      // same way before comparing
      oracle =
        """SELECT c.event_id AS click_id, c.user_id AS user_id,
          |       epoch_ns(c.ts) // 1000000 AS click_ms,
          |       p.event_id AS purchase_id,
          |       epoch_ns(p.ts) // 1000000 AS purchase_ms
          |FROM events c JOIN events p
          |  ON p.user_id = c.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
          | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 600000000""".stripMargin),
    // stream-stream LEFT OUTER interval join: non-converting clicks
    // survive with -1 sentinels. In streaming execution the outer row
    // emits at state eviction (watermark past click_ts + interval), so
    // append mode stays correct; batch execution is the oracle form
    // (StreamingSpec pins stream-vs-batch equivalence incl. the
    // watermark-gated outer rows)
    Record("events_stream_join_outer", (s, dir) =>
      streaming.Events.clickPurchaseJoin(Engine.eventsTable(s, dir),
        withinMs = 10 * 60 * 1000L, joinType = "left_outer"),
      // LEFT OUTER form: event_type filters move into subqueries (an
      // ON-clause predicate cannot drop left rows), sentinels match the
      // Spark side's -1 coalesce
      oracle =
        """SELECT c.event_id AS click_id, c.user_id AS user_id,
          |       epoch_ns(c.ts) // 1000000 AS click_ms,
          |       coalesce(p.event_id, -1) AS purchase_id,
          |       coalesce(epoch_ns(p.ts) // 1000000, -1) AS purchase_ms
          |FROM (SELECT * FROM events WHERE event_type = 'click') c
          |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |  ON p.user_id = c.user_id
          | AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
          | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 600000000""".stripMargin),
    // funnel: per user with a click, the first purchase at or after the
    // first click (-1 = never converted); ms granularity on both the
    // query and the oracle
    Record("events_funnel", (s, dir) => {
      val e = Engine.eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ts_ms"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("first_click_ms"))
      val conv = e.filter(col("event_type") === "purchase")
        .join(clicks, Seq("user_id"))
        .filter(col("ts_ms") >= col("first_click_ms"))
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("first_purchase_ms"))
      clicks.join(conv, Seq("user_id"), "left")
        .select(col("user_id"), col("first_click_ms"),
          coalesce(col("first_purchase_ms"), lit(-1L)).as("first_purchase_ms"))
    },
      // ms granularity on both comparands (unix_millis / epoch_ms)
      oracle =
        """WITH c AS (SELECT user_id, min(epoch_ms(ts)) AS first_click_ms
          |           FROM events WHERE event_type = 'click' GROUP BY 1),
          |     p AS (SELECT c.user_id, min(epoch_ms(e.ts)) AS first_purchase_ms
          |           FROM c JOIN events e
          |             ON e.user_id = c.user_id AND e.event_type = 'purchase'
          |            AND epoch_ms(e.ts) >= c.first_click_ms
          |           GROUP BY 1)
          |SELECT c.user_id, c.first_click_ms,
          |       coalesce(p.first_purchase_ms, -1) AS first_purchase_ms
          |FROM c LEFT JOIN p ON p.user_id = c.user_id""".stripMargin),
    // retention cohorts: per signup day, users who returned within
    // 1 day / 7 days (integer day buckets, ms arithmetic both sides)
    Record("events_retention", (s, dir) => {
      val e = Engine.eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ts_ms"))
      val day = 86400000L
      val signups = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("signup_ms"))
      val ret = e.join(signups, Seq("user_id"))
        .filter(col("ts_ms") > col("signup_ms"))
        .groupBy(col("user_id"), col("signup_ms"))
        .agg(max(when(col("ts_ms") <= col("signup_ms") + day, 1L).otherwise(0L)).as("r1"),
          max(when(col("ts_ms") <= col("signup_ms") + 7 * day, 1L).otherwise(0L)).as("r7"))
      signups.join(ret, Seq("user_id", "signup_ms"), "left")
        .select(expr(s"signup_ms div $day").as("cohort_day"),
          coalesce(col("r1"), lit(0L)).as("r1"),
          coalesce(col("r7"), lit(0L)).as("r7"))
        .groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("r1")).as("n_d1"), sum(col("r7")).as("n_d7"))
    },
      oracle =
        """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
          |s AS (SELECT user_id, min(ts_ms) AS signup_ms FROM e
          |      WHERE event_type = 'signup' GROUP BY 1),
          |r AS (SELECT s.user_id, s.signup_ms,
          |        max(CASE WHEN e.ts_ms <= s.signup_ms + 86400000 THEN 1 ELSE 0 END) AS r1,
          |        max(CASE WHEN e.ts_ms <= s.signup_ms + 604800000 THEN 1 ELSE 0 END) AS r7
          |      FROM s JOIN e ON e.user_id = s.user_id AND e.ts_ms > s.signup_ms
          |      GROUP BY 1, 2)
          |SELECT s.signup_ms // 86400000 AS cohort_day,
          |       count(*) AS n_signups,
          |       cast(sum(coalesce(r1, 0)) as bigint) AS n_d1,
          |       cast(sum(coalesce(r7, 0)) as bigint) AS n_d7
          |FROM s LEFT JOIN r ON r.user_id = s.user_id
          |GROUP BY 1""".stripMargin),
    // stream-static join (batch execution of the same plan): enrich
    // events against a broadcast dimension, aggregate per category
    Record("events_enrich_static", (s, dir) =>
      streaming.Events.enrichWithTypeDim(Engine.eventsTable(s, dir))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_events"), sum(col("weight")).as("sum_weight"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli")),
      oracle =
        """WITH e AS (SELECT *,
          |    CASE event_type WHEN 'click' THEN 'engagement'
          |                    WHEN 'view' THEN 'engagement'
          |                    WHEN 'purchase' THEN 'revenue'
          |                    WHEN 'signup' THEN 'growth'
          |                    WHEN 'error' THEN 'ops'
          |                    ELSE 'unknown' END AS category,
          |    CASE event_type WHEN 'click' THEN 1 WHEN 'purchase' THEN 10
          |                    WHEN 'signup' THEN 5 ELSE 0 END AS weight
          |  FROM events)
          |SELECT category, count(*) AS n_events,
          |       cast(sum(weight) as bigint) AS sum_weight,
          |       cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS sum_value_milli
          |FROM e GROUP BY category""".stripMargin),
    // lead/lag analytics: per-user inter-event gap
    Record("events_lag_delta", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      Engine.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
        .withColumn("delta_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .withColumn("delta_ms", coalesce(col("delta_ms"), lit(-1L)))
    },
      oracle =
        """SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ts_ms,
          |       coalesce(epoch_ns(ts) // 1000000
          |         - lag(epoch_ns(ts) // 1000000) OVER (
          |             PARTITION BY user_id
          |             ORDER BY epoch_ns(ts) // 1000000, event_id), -1) AS delta_ms
          |FROM events""".stripMargin),
    // time-series gap fill: per-user daily series densified with
    // sequence+explode between each user's own min/max day, missing
    // days zero-filled — generator rows stay proportional to the span,
    // never a global cross join
    Record("ts_gapfill", (s, dir) => {
      val days = Engine.eventsTable(s, dir)
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"))
      val spans = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      spans
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
        .join(days, Seq("user_id", "day"), "left")
        .select(col("user_id"), unix_millis(col("day")).as("day_ms"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    },
      oracle =
        """WITH d AS (
          |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events
          |  FROM events GROUP BY 1, 2),
          |s AS (
          |  SELECT user_id,
          |         unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
          |  FROM d GROUP BY user_id)
          |SELECT s.user_id, epoch_ms(s.day) AS day_ms,
          |       cast(coalesce(d.n_events, 0) as bigint) AS n_events
          |FROM s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day""".stripMargin),
    // SCD-1 upsert (MERGE semantics without a table format): a derived
    // changes set (per-customer order spend, plus synthetic NEW keys
    // offset by 1e6) applied over the customer base — matched keys take
    // the update, unmatched keep the base, inserts append. One
    // full-outer hash join on the key; at 100 TB both sides shuffle
    // once on c_custkey (or ride a shared bucketed layout), and the
    // coalesce projection is codegen'd — no driver-side diffing
    // CDC changelog apply WITH deletes — the missing third of the
    // maintenance family (merge_upsert APPLIES upserts, scd2 keeps
    // history, this one compacts an ordered I/U/D log): last-op-wins
    // compaction is ONE window shuffle on the key (at 100 TB the log
    // compacts before ever touching the base table), then one co-keyed
    // full-outer apply; a trailing D tombstone drops the key
    Record("merge_cdc", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), floor(col("c_acctbal")).as("balance"))
      val log = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderdate").as("ts"), col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, "D").otherwise("U").as("op"),
          floor(col("o_totalprice")).as("new_balance"))
      val lastOp = log.withColumn("rn", row_number().over(
          Window.partitionBy(col("c_custkey"))
            .orderBy(col("ts").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("op"), col("new_balance"))
      base.join(lastOp, Seq("c_custkey"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(col("c_custkey"),
          coalesce(col("new_balance"), col("balance")).as("balance"),
          coalesce(col("op"), lit("K")).as("last_op"))
    },
      oracle =
        """WITH base AS (SELECT c_custkey,
          |         cast(floor(c_acctbal) as bigint) AS balance FROM customer),
          |log AS (SELECT o_custkey AS c_custkey,
          |          o_orderdate AS ts, o_orderkey,
          |          CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
          |          cast(floor(o_totalprice) as bigint) AS new_balance
          |        FROM orders),
          |last_op AS (
          |  SELECT c_custkey, op, new_balance FROM (
          |    SELECT *, row_number() OVER (PARTITION BY c_custkey
          |      ORDER BY ts DESC, o_orderkey DESC) AS rn FROM log)
          |  WHERE rn = 1)
          |SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
          |       coalesce(l.new_balance, b.balance) AS balance,
          |       coalesce(l.op, 'K') AS last_op
          |FROM base b FULL OUTER JOIN last_op l ON b.c_custkey = l.c_custkey
          |WHERE coalesce(l.op, 'K') <> 'D'""".stripMargin),
    Record("merge_upsert", (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          floor(col("c_acctbal")).as("balance"))
      val upd = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice"))).as("balance"))
        .select(
          when(col("o_custkey") % 10 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("c_custkey"),
          col("balance"))
      base.join(upd.withColumnRenamed("balance", "upd_balance"),
          Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("nation"), lit(-1L)).as("nation"),
          coalesce(col("upd_balance"), col("balance")).as("balance"),
          when(col("upd_balance").isNotNull && col("nation").isNotNull, "update")
            .when(col("upd_balance").isNotNull, "insert")
            .otherwise("keep").as("action"))
    },
      oracle =
        """WITH base AS (SELECT c_custkey, c_nationkey::BIGINT AS nation,
          |         cast(floor(c_acctbal) as bigint) AS balance
          |       FROM customer),
          |upd AS (SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 1000000
          |               ELSE o_custkey END AS c_custkey,
          |          cast(sum(cast(floor(o_totalprice) as bigint)) as bigint) AS upd_balance
          |        FROM orders GROUP BY o_custkey)
          |SELECT coalesce(base.c_custkey, upd.c_custkey) AS c_custkey,
          |       coalesce(nation, -1) AS nation,
          |       coalesce(upd_balance, balance) AS balance,
          |       CASE WHEN upd_balance IS NOT NULL AND nation IS NOT NULL THEN 'update'
          |            WHEN upd_balance IS NOT NULL THEN 'insert'
          |            ELSE 'keep' END AS action
          |FROM base FULL OUTER JOIN upd ON base.c_custkey = upd.c_custkey""".stripMargin),
    // SCD-2 history: per (user, event_type) value-change intervals —
    // [valid_from, valid_to) rows built with one lead() window over the
    // (ts, event_id) total order; open intervals close at +inf (-1).
    // The standard "events to dimension history" transform; one sort
    // per key group, shuffle carries only (user, type, ts, value)
    Record("scd2_history", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_ms"), col("event_id"))
      Engine.eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"), floor(col("value")).as("v"))
        .withColumn("valid_to_ms", coalesce(lead(col("ts_ms"), 1).over(w), lit(-1L)))
        .select(col("user_id"), col("event_type"), col("v").as("value_fl"),
          col("ts_ms").as("valid_from_ms"), col("valid_to_ms"))
    },
      oracle =
        """SELECT user_id, event_type,
          |       cast(floor(value) as bigint) AS value_fl,
          |       epoch_ms(ts) AS valid_from_ms,
          |       coalesce(lead(epoch_ms(ts), 1) OVER
          |         (PARTITION BY user_id, event_type ORDER BY ts, event_id),
          |         -1) AS valid_to_ms
          |FROM events""".stripMargin),
    // OHLC-style downsampling: per (user, hour) open/close/lo/hi/count.
    // open/close are SELECTIONS via min/max over (ts, event_id, value)
    // structs — (ts, event_id) is a unique total order, so the result
    // is deterministic AND the whole resample is one partial-aggregable
    // HashAggregate pass: no window sort, the shuffle carries one slim
    // row per (user, hour) — where the textbook row_number() plan sorts
    // every event inside an exchange of the full table
    Record("ts_resample", (s, dir) => {
      val e = Engine.eventsTable(s, dir)
        .select(col("user_id"), date_trunc("HOUR", col("ts")).as("hr"),
          unix_millis(col("ts")).as("ts_ms"), col("event_id"), col("value"))
      e.groupBy(col("user_id"), col("hr"))
        .agg(
          min(struct(col("ts_ms"), col("event_id"), col("value")))
            .getField("value").as("open_value"),
          max(struct(col("ts_ms"), col("event_id"), col("value")))
            .getField("value").as("close_value"),
          min(col("value")).as("lo_value"),
          max(col("value")).as("hi_value"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("hr")).as("hour_ms"),
          col("open_value"), col("close_value"),
          col("lo_value"), col("hi_value"), col("n_events"))
    },
      // open/close replayed via ORDER BY inside array_agg — the sorted
      // form of the Spark side's min/max-over-struct selection; both
      // pick values (never accumulate doubles), so hash-exact
      oracle =
        """SELECT user_id, epoch_ms(date_trunc('hour', ts)) AS hour_ms,
          |       (array_agg(value ORDER BY ts, event_id))[1] AS open_value,
          |       (array_agg(value ORDER BY ts DESC, event_id DESC))[1] AS close_value,
          |       min(value) AS lo_value, max(value) AS hi_value,
          |       count(*) AS n_events
          |FROM events GROUP BY 1, 2""".stripMargin),
    // the watermarked streaming dedup's batch-equivalent surface:
    // keep-first per content key (user, type, props) under the
    // (ts, event_id) total order, reported per event_type. The
    // streaming form (Events.dedupStream, dropDuplicatesWithinWatermark)
    // is asserted equivalent in StreamingSpec
    Record("events_stream_dedup", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("user_id"), col("event_type"), col("props"))
        .orderBy(col("ts"), col("event_id"))
      Engine.eventsTable(s, dir)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
    },
      oracle =
        """WITH k AS (SELECT event_type,
          |    row_number() OVER (PARTITION BY user_id, event_type, props
          |                       ORDER BY ts, event_id) AS rn
          |  FROM events)
          |SELECT event_type, count(*) AS n_rows,
          |       cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) as bigint) AS n_kept
          |FROM k GROUP BY event_type""".stripMargin),
    // per-user integer EWMA (alpha = 1/2, fixed-point: s := (s + v) div 2)
    // over the event stream in (ts, event_id) order — a SEQUENTIAL
    // recurrence no window frame can express, run as a one-pass
    // streaming fold after repartition(user) + sortWithinPartitions
    // (TimeSeries.ewmaIntFold) with O(1) state per user: no per-key
    // collect_list array, so an unbounded per-user history can't OOM a
    // single row at corpus scale. Seeded with the first element so the
    // fold matches DuckDB's list_reduce semantics; integer arithmetic
    // keeps the result order-deterministic. nonneg_ok pins the
    // truncate-vs-floor division agreement: Spark `div` truncates toward
    // zero while DuckDB `//` floors, identical only while every
    // (acc + v) stays ≥ 0 — the oracle expects TRUE, so testdata going
    // negative fails the gate loudly instead of silently diverging
    Record("ts_ewma", (s, dir) => {
      val ev = Engine.eventsTable(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("t"),
          col("event_id").as("e"),
          floor(col("value") * 1000).cast("long").as("v"))
      TimeSeries.ewmaIntFold(ev, "user_id", "t", "e", "v")
        .select(col("user_id"), col("n_events"),
          col("ewma").as("ewma_milli"), (col("min_v") >= 0L).as("nonneg_ok"))
    },
      oracle =
        """WITH ev AS (
          |  SELECT user_id, epoch_ns(ts) // 1000000 AS t, event_id,
          |         cast(floor(value * 1000) as bigint) AS v
          |  FROM events),
          |agg AS (
          |  SELECT user_id, list(v ORDER BY t, event_id) AS l
          |  FROM ev GROUP BY 1)
          |SELECT user_id, cast(len(l) as bigint) AS n_events,
          |       cast(list_reduce(l, (acc, x) -> (acc + x) // 2) as bigint) AS ewma_milli,
          |       true AS nonneg_ok
          |FROM agg""".stripMargin),
    // linear gap INTERPOLATION — ts_gapfill's zero-fill upgraded to the
    // value model a downstream consumer actually wants for a sampled
    // metric: missing days take the line between the surrounding
    // observations. Exact integer arithmetic throughout: daily values in
    // milli-units, interp = (pv*(nd-d) + nv*(d-pd)) div (nd-pd) with
    // every factor ≥ 0 (nonneg_ok pins it), so Spark's truncating `div`
    // and DuckDB's flooring `//` agree. Plan shape: the observed-day
    // aggregate and the spine share one shuffle on user_id; prev/next
    // neighbors are two frames of the SAME window sort (one Sort, no
    // second exchange) via last/first with ignoreNulls — no self-join
    // against the observation set, which is the textbook-but-wrong plan
    // (an extra range join per gap). Day index (days since epoch) keeps
    // the divisor small; spine rows bounded by users × span-days
    Record("ts_interpolate", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Engine.eventsTable(s, dir)
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("v"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("v")).as("v"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
      val j = spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          unix_date(col("day").cast("date")).cast("long").as("d"), col("v"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      j.withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("pd",
          last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nd",
          first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wNext))
        .select(col("user_id"), unix_millis(col("day")).as("day_ms"),
          when(col("v").isNotNull, col("v"))
            .otherwise(expr("(pv * (nd - d) + nv * (d - pd)) div (nd - pd)"))
            .as("v_milli"),
          col("v").isNull.as("is_interp"),
          (coalesce(col("pv"), col("v")) >= 0L &&
            coalesce(col("nv"), col("v")) >= 0L).as("nonneg_ok"))
    },
      oracle =
        """WITH daily AS (
          |  SELECT user_id, date_trunc('day', ts) AS day,
          |         cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS v
          |  FROM events GROUP BY 1, 2),
          |spine AS (
          |  SELECT user_id,
          |         unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
          |  FROM daily GROUP BY user_id),
          |j AS (
          |  SELECT s.user_id, s.day,
          |         date_diff('day', DATE '1970-01-01', s.day::date) AS d, daily.v
          |  FROM spine s LEFT JOIN daily
          |    ON s.user_id = daily.user_id AND s.day = daily.day),
          |n AS (
          |  SELECT user_id, day, d, v,
          |    last_value(v IGNORE NULLS) OVER wp AS pv,
          |    last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          |      OVER wp AS pd,
          |    first_value(v IGNORE NULLS) OVER wn AS nv,
          |    first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          |      OVER wn AS nd
          |  FROM j
          |  WINDOW wp AS (PARTITION BY user_id ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |  wn AS (PARTITION BY user_id ORDER BY d
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT user_id, epoch_ms(day) AS day_ms,
          |       CASE WHEN v IS NOT NULL THEN v
          |            ELSE (pv * (nd - d) + nv * (d - pd)) // (nd - pd)
          |       END AS v_milli,
          |       (v IS NULL) AS is_interp,
          |       (coalesce(pv, v) >= 0 AND coalesce(nv, v) >= 0) AS nonneg_ok
          |FROM n""".stripMargin),
    // rolling anomaly flags — the per-event z-score test (|x − μ| > 2σ
    // over the user's previous 8 events) done WITHOUT floats: squaring
    // the test gives (n·x − s)² > 4·(n·ss − s²), all integer, so both
    // engines evaluate the identical predicate bit-for-bit (a float σ
    // would hash-diverge at the boundary). One window sort per user
    // carries count/sum/sum-of-squares in a single frame; the per-user
    // rollup is a partial-aggregable HashAggregate. bounds_ok pins
    // max(|v|) < 1e8 over EVERY row of the user — not just scored rows
    // and not just positive values: unscored early events still feed
    // later windows' sums, and a large-magnitude NEGATIVE value
    // overflows dev² just as surely (DuckDB's hugeint sums would raise
    // where a wrapped Spark long stays silent — the gate must fail
    // loudly first). The full-partition max rides the SAME window sort
    // as the sliding frame. Scored rows need n ≥ 4 history events so
    // the variance is meaningful
    Record("ts_anomaly", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id")).rowsBetween(-8, -1)
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Engine.eventsTable(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), floor(col("value") * 1000).cast("long").as("v"))
        .withColumn("n", count(col("v")).over(w))
        .withColumn("sm", sum(col("v")).over(w))
        .withColumn("ss", sum(col("v") * col("v")).over(w))
        .withColumn("mxa", max(abs(col("v"))).over(wAll))
        .filter(col("n") >= 4)
        .withColumn("dev", col("n") * col("v") - col("sm"))
        .withColumn("flag", (col("dev") * col("dev")) >
          lit(4L) * (col("n") * col("ss") - col("sm") * col("sm")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_anomalies"),
          (max(col("mxa")) < 100000000L).as("bounds_ok"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms, event_id,
          |         cast(floor(value * 1000) as bigint) AS v
          |  FROM events),
          |w AS (
          |  SELECT user_id, v,
          |         count(v) OVER win AS n,
          |         cast(sum(v) OVER win as bigint) AS sm,
          |         cast(sum(v * v) OVER win as bigint) AS ss,
          |         cast(max(abs(v)) OVER (PARTITION BY user_id) as bigint)
          |           AS mxa
          |  FROM e
          |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
          |SELECT user_id, count(*) AS n_scored,
          |       cast(sum(CASE WHEN (n * v - sm) * (n * v - sm) >
          |                          4 * (n * ss - sm * sm)
          |                     THEN 1 ELSE 0 END) as bigint) AS n_anomalies,
          |       (max(mxa) < 100000000) AS bounds_ok
          |FROM w WHERE n >= 4 GROUP BY user_id""".stripMargin),
    // last-touch attribution: each purchase attributes to the user's
    // most recent STRICTLY-PRIOR click (the marketing-analytics as-of
    // primitive). The scale-correct plan is NOT a per-purchase range
    // join (quadratic in events-per-user): both event types merge into
    // ONE ordered stream per user and the last-click id/ts carry
    // forward in a single window sort — rowsBetween(-∞, -1) makes
    // "strictly prior" explicit, so a click at the same timestamp
    // attributes only if its event_id orders first. Unattributed
    // purchases (no prior click) keep NULLs — the funnel's cold starts
    Record("events_attribution", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Engine.eventsTable(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
        .withColumn("click_id", last(
          when(col("event_type") === "click", col("event_id")),
          ignoreNulls = true).over(w))
        .withColumn("click_ts", last(
          when(col("event_type") === "click", col("ts_ms")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("click_id"), (col("ts_ms") - col("click_ts")).as("lag_ms"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms,
          |         event_id, event_type
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |w AS (
          |  SELECT *,
          |    last_value(CASE WHEN event_type = 'click' THEN event_id END
          |               IGNORE NULLS) OVER win AS click_id,
          |    last_value(CASE WHEN event_type = 'click' THEN ts_ms END
          |               IGNORE NULLS) OVER win AS click_ts
          |  FROM e
          |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
          |SELECT user_id, event_id AS purchase_id, click_id,
          |       ts_ms - click_ts AS lag_ms
          |FROM w WHERE event_type = 'purchase'""".stripMargin),
    // event-type transition counts (the first-order Markov model of
    // user behavior): one lag window per user in (ts, event_id) order,
    // then a (prev, next) aggregate; transition probability in basis
    // points by integer division against the per-prev total — a window
    // over the 25-row aggregate, not the event stream
    Record("events_markov", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val trans = Engine.eventsTable(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev_type"))
      trans
        .withColumn("tot", sum(col("n")).over(wp))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 10000) div tot").as("p_bp"))
    },
      oracle =
        """WITH e AS (
          |  SELECT user_id, cast(epoch_ms(ts) as bigint) AS ts_ms,
          |         event_id, event_type,
          |         lag(event_type) OVER (PARTITION BY user_id
          |           ORDER BY epoch_ms(ts), event_id) AS prev_type
          |  FROM events),
          |t AS (
          |  SELECT prev_type, event_type AS next_type, count(*) AS n
          |  FROM e WHERE prev_type IS NOT NULL
          |  GROUP BY prev_type, event_type)
          |SELECT prev_type, next_type, n,
          |       cast((n * 10000) // sum(n) OVER (PARTITION BY prev_type)
          |            as bigint) AS p_bp
          |FROM t""".stripMargin),
  )
}
