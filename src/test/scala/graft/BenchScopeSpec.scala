package graft

import org.apache.spark.sql.functions._

/** Evidence for the r01→r02 bench deltas on `agg_window_running`,
  * `distinct_exact`, `distinct_fm` (0.24→1.44 s, 0.26→1.43 s,
  * 0.16→0.91 s at sf0.1): round 1 timed `df.count()`, and Catalyst
  * PRUNES the operator under test when only the row count is needed —
  * a window projection does not change cardinality, and an unused
  * aggregate expression is dropped by column pruning. Round 2's noop
  * sink (Bench.scala `exec`) materializes every column, so it times the
  * real operator. The "regression" is the measurement becoming honest,
  * not a plan change — these specs pin the mechanism by inspecting the
  * optimized plans.
  */
class BenchScopeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("count() prunes the window the bench used to under-time") {
    val df = SparkEntry.queries("agg_window_running")(spark, dir)
    val full = df.queryExecution.optimizedPlan.toString
    assert(full.contains("Window"), "materialized plan computes the window")
    // the plan count() executes: aggregate over the same child
    val counted = df.groupBy().agg(count(lit(1))).queryExecution.optimizedPlan.toString
    assert(!counted.contains("Window"),
      "under count(), the window is pruned — r01 timed a scan, not the operator")
  }

  test("count() prunes the distinct aggregation the bench used to under-time") {
    val df = SparkEntry.queries("distinct_exact")(spark, dir)
    val full = df.queryExecution.optimizedPlan.toString
    assert(full.toLowerCase.contains("distinct"), "materialized plan computes count_distinct")
    val counted = df.groupBy().agg(count(lit(1))).queryExecution.optimizedPlan.toString
    assert(!counted.toLowerCase.contains("distinct"),
      "under count(), count_distinct is pruned to a bare group-by")
  }

  test("count() prunes the FM sketch aggregate the bench used to under-time") {
    val df = SparkEntry.queries("distinct_fm")(spark, dir)
    val full = df.queryExecution.optimizedPlan.toString
    assert(full.contains("fm_count_distinct"), "materialized plan runs the FM aggregate")
    val counted = df.groupBy().agg(count(lit(1))).queryExecution.optimizedPlan.toString
    assert(!counted.contains("fm_count_distinct"),
      "under count(), the FM buffer work is pruned away")
  }

  test("Bench priors are foreign on another core count or a CPU probe 1.5x off") {
    assert(Bench.foreignPayload(Some(4.0), Some(1.87), 4, 1.90).isEmpty)
    assert(Bench.foreignPayload(Some(4.0), Some(1.87), 4, 1.87 * 1.5).isEmpty)
    assert(Bench.foreignPayload(Some(8.0), Some(1.87), 4, 1.87).get.contains("4 cpus"))
    assert(Bench.foreignPayload(None, Some(1.87), 4, 1.87).isDefined)
    assert(Bench.foreignPayload(Some(4.0), Some(1.87), 4, 2.9).get.contains("calib_pre"))
    assert(Bench.foreignPayload(Some(4.0), Some(1.87), 4, 1.2).isDefined)
    assert(Bench.foreignPayload(Some(4.0), None, 4, 1.87).isDefined)
  }
}
