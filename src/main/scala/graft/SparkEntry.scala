package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 (plus the beyond-reference pipeline
  * operators) is exposed as a named query over the driver testdata
  * (TESTDATA.md), with a DuckDB-equivalent oracle SQL where expressible.
  * Each query is one [[SparkEntry.Record]] in its family's file under
  * `graft/queries/`, which keeps its run body, check and oracle SQL
  * together; to add a query, add one record to its family's `records`.
  * This object holds the registry built from those records and the
  * helpers two or more families share.
  *
  * q4112 → testdata mapping: items := part(p_partkey, floor(p_retailprice)),
  * orders := lineitem(l_partkey FK, l_suppkey group key, floor(l_quantity)).
  * Doubles are floored to Long on ingest so the whole pipeline keeps the
  * reference's integer-only arithmetic (4112_project_2.pdf p.3).
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Spread a CPU-heavy per-row stage across the session's cores when the
    * input scan under-parallelizes it — a small local parquet file is one
    * split, so everything map-side downstream of it runs on ONE core
    * (measured: func_variant_array spent 2.08 s in a single task at
    * local[32]). A no-op whenever the scan already carries ≥ cores
    * partitions: at real scale `maxPartitionBytes` supplies the
    * parallelism and adding an exchange here would only move bytes
    * (guide §2.6 — derive task counts from the data, never a constant;
    * the constant being corrected here is the LOCAL file count). Hash
    * repartition on a caller-chosen key, not round-robin, so no
    * sort-before-repartition pass is paid (guide §2.5).
    */
  private[graft] def spreadForCpu(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores, key)
  }

  /** Cramer solve of the 3-unknown least-squares normal equations from
    * the 9 Gram sums (n, s1, s2, s11, s12, s22, sy, s1y, s2y), in
    * BigInt (3×3 determinants overflow long), coefficients truncated
    * to milli units — BigInt `/`, DuckDB `//`, and Spark `div` all
    * truncate toward zero, so the fit replays exactly, negative slopes
    * included. Returns (b0, b1, b2, det≠0).
    */
  private[graft] def linregMilli(
      sums: Seq[Long]): (Long, Long, Long, Boolean) =
    linregMilliBig(sums.map(BigInt(_)))

  private[graft] def linregMilliBig(
      sums: Seq[BigInt]): (Long, Long, Long, Boolean) = {
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) = sums
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    val ok = det != BigInt(0)
    def milli(di: BigInt): Long = if (ok) ((di * 1000) / det).toLong else 0L
    (milli(det0), milli(det1), milli(det2), ok)
  }

  /** Evaluates a 1-row (long, boolean, boolean) invariant gate EAGERLY,
    * unpersists its scoped caches, and returns the result as a literal
    * row. Gate caches exist only because the gate reads its inputs 2-3×
    * within one evaluation; letting them outlive the call accumulates
    * cached plans in executor storage across Verify + bench repetitions
    * for the session lifetime.
    */
  private[graft] def evalGateRow(s: SparkSession, gate: DataFrame,
      cached: Seq[DataFrame], names: (String, String, String)): DataFrame = {
    val row = try gate.collect()(0) finally cached.foreach(_.unpersist())
    import s.implicits._
    Seq((row.getLong(0), row.getBoolean(1), row.getBoolean(2)))
      .toDF(names._1, names._2, names._3)
  }

  /** A query body: session and testdata directory in, a lazy frame out. */
  type Query = (SparkSession, String) => DataFrame

  /** A check: session, testdata directory and the run body's output in,
    * the rows the oracle compares out (see [[checks]]).
    */
  type Check = (SparkSession, String, DataFrame) => DataFrame

  /** Raises unless `run` and `reference` hold the same rows, duplicates
    * and NULLs included, on `run`'s columns.
    */
  private[graft] def requireSameRows(run: DataFrame, reference: DataFrame): Unit = {
    val ref = reference.select(run.columns.toSeq.map(col): _*)
    require(run.exceptAll(ref).isEmpty && ref.exceptAll(run).isEmpty,
      "the run's rows differ from its reference body's")
  }

  /** The check of a result-identical production body: raises unless the
    * run holds the rows of `reference`, the body kept as its verifier,
    * and passes the run's rows through unchanged.
    */
  private[graft] def sameRows(reference: Query): Check = (s, dir, run) => {
    requireSameRows(run, reference(s, dir))
    run
  }

  /** Suffix for the tables and paths a run body writes once per session
    * and testdata directory: two concurrent sessions must not clobber
    * each other's files, and one session reading two directories must
    * not read the other's.
    */
  private[graft] def sessionKey(s: SparkSession, dir: String): String =
    s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      Integer.toHexString(dir.hashCode)

  private[graft] def tmpPath(name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"), name).getAbsolutePath

  private[graft] def pathExists(s: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  private[graft] def deletePath(s: SparkSession, path: String): Unit =
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    } catch { case _: Throwable => () }

  /** One named query: the run body, the check that turns its output
    * into the rows the oracle compares (none when the run's output is
    * already those rows), and the DuckDB SQL returning those rows.
    */
  final case class Record(name: String, run: Query, check: Option[Check] = None,
      oracle: String)

  /** Every query family's records, one family file each under
    * `graft/queries/`, rebuilt on every call.
    */
  private[graft] def families: Seq[Seq[Record]] = Seq(
    Q4112Queries.records, JoinQueries.records, AggregationQueries.records,
    DedupQueries.records, GraphQueries.records, TextQueries.records,
    CurationQueries.records, CompositeQueries.records, SimilarityQueries.records,
    MultimodalQueries.records, EventsQueries.records)

  /** `records` by name; raises, naming them, on names registered twice. */
  private[graft] def byName(records: Seq[Record]): Map[String, Record] = {
    val twice = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(twice.isEmpty, s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    records.map(r => r.name -> r).toMap
  }

  private def registry: Map[String, Record] = byName(families.flatten)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q4112_part2")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2: its RUN
    * body, the one form of the query. Bench and Probe `time` / `plans`
    * time and plan exactly this body. Where the run's output is not
    * itself what the DuckDB oracle compares (a sketch whose exact
    * counterpart is the verifier, a production form held equal to a
    * reference body, a corpus-wide run the oracle checks on a slice),
    * [[checks]] holds the query's CHECK: a function of the run's
    * output that raises on a broken run and emits the rows the oracle
    * compares. Verify, Probe `show` and the specs that read gate
    * columns run [[checked]], the two composed. No query has a second
    * timed body.
    */
  def queries: Map[String, Query] = registry.map { case (n, r) => n -> r.run }

  /** Checks: for a query whose run body's output is not itself the rows
    * the oracle compares, the verifier, as a function of that output
    * (see [[queries]]). A check may add exact counterparts, recompute a
    * reference body and raise on any difference, or restrict the run's
    * output to the oracle's slice; it never substitutes another body for
    * the run. `SparkEntry.checked` composes the two.
    */
  def checks: Map[String, Check] =
    registry.collect { case (n, Record(_, _, Some(check), _)) => n -> check }

  /** The form Verify, Probe `show` and the gate-reading specs run: the
    * run body's output handed to the query's check, or the run body
    * itself for a query without one.
    */
  def checked(name: String): Query = {
    val r = registry(name)
    r.check.fold(r.run)(check => (s, dir) => check(s, dir, r.run(s, dir)))
  }

  /** For each key in queries, ANSI SQL runnable by DuckDB on the same
    * parquet tables that returns the rows of the query's checked form
    * ([[checked]]).
    */
  def oracleSql: Map[String, String] = registry.map { case (n, r) => n -> r.oracle }
}
