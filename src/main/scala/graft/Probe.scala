package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.graft.bridge

/** Query inspection and attribution on the shared session, reading
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench:
  *
  *  - `runMain graft.Probe show <query> [rows]` prints the gated form's
  *    rows (booleans of an oracle gate must read true).
  *  - `runMain graft.Probe plans <outDir> <suffix> <query...>` writes
  *    `<outDir>/<query>_<suffix>.txt` for the form Bench times: the
  *    static formatted plan, then the final adaptive plan after one run.
  *    A query whose gate is a separate form also gets its gate's plans
  *    in `<query>_<suffix>_gate.txt`.
  *  - `runMain graft.Probe time <reps> <query...>` times the bench form
  *    with the noop sink, `reps` reps after one warm-up. Per rep it
  *    prints each job's wall time and each stage's task metrics
  *    ([[TaskMetricsListener]]); per query a min/median line.
  *
  * The two plans differ meaningfully: the static plan shows one subtree
  * per consumer of a shared stage, while the final plan
  * (`isFinalPlan=true`, only available from the SAME QueryExecution
  * after it ran) shows AQE's stage-cache dedup as `ReusedExchange` —
  * see PLANS.md.
  */
object Probe {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String], sfDir: String = Engine.sfDir): Unit =
    args match {
      case Seq("show", name, rows @ _*) =>
        SparkEntry.queries(name)(spark, sfDir)
          .show(rows.headOption.fold(20)(_.toInt), truncate = false)
      case Seq("plans", outDir, suffix, names @ _*) =>
        new java.io.File(outDir).mkdirs()
        for (name <- names) {
          def write(form: Query, file: String): Unit =
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, file), plans(form(spark, sfDir)))
          try {
            write(benchForm(name), s"${name}_$suffix.txt")
            if (SparkEntry.benchOverrides.contains(name))
              write(SparkEntry.queries(name), s"${name}_${suffix}_gate.txt")
            System.err.println(s"[probe] wrote $name")
          } catch {
            case e: Throwable => System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
          }
        }
      case Seq("time", reps, names @ _*) =>
        val metrics = new TaskMetricsListener
        spark.sparkContext.addSparkListener(metrics)
        try names.foreach(time(spark, sfDir, metrics, reps.toInt, _))
        finally spark.sparkContext.removeSparkListener(metrics)
      case _ =>
        throw new IllegalArgumentException("usage: Probe show <query> [rows] | " +
          "plans <outDir> <suffix> <query...> | time <reps> <query...>")
    }

  /** The form Bench times. */
  private def benchForm(name: String): Query =
    SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Static formatted plan, then the final adaptive plan of the same
    * QueryExecution after one run that drains every row (what the noop
    * sink does).
    */
  private def plans(df: DataFrame): String = {
    val qe = df.queryExecution
    val static = qe.explainString(FormattedMode)
    SQLExecution.withNewExecutionId(qe, Some("probe"))(
      qe.executedPlan.execute().foreach(_ => ()))
    s"$static\n=== final adaptive plan ===\n${qe.executedPlan}\n"
  }

  private def time(spark: SparkSession, sfDir: String, metrics: TaskMetricsListener,
      reps: Int, name: String): Unit = {
    val fn = benchForm(name)
    try {
      exec(fn(spark, sfDir)) // warm-up
      val ts = (1 to reps).map { rep =>
        metrics.reset()
        val t0 = System.nanoTime()
        exec(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        bridge.drainListenerBus(spark.sparkContext)
        println(f"[prof] === $name rep $rep total $t%.3f s ===")
        metrics.jobs.foreach(j => println(s"[prof] ${j.line}"))
        metrics.stages.foreach(s => println(s"[prof] ${s.line}"))
        t
      }.sorted
      println(f"[timeq] $name%-32s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f " +
        s"all=${ts.map(t => f"$t%.2f").mkString(",")}")
    } catch {
      case e: Throwable => println(s"[timeq] $name FAILED: ${e.getMessage}")
    }
  }
}
