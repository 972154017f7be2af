package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + testdata table loader.
  *
  * Mirrors the reference's execution setup (q4112_main.c:40-132): a fixed
  * thread count and fully in-memory columnar tables. On Spark, threads map
  * to local[N] executor slots and the columnar store is parquet + Tungsten
  * batches; the in-memory cache keeps an all-integral relation, per batch
  * of `spark.sql.inMemoryColumnarStorage.batchSize` rows, as one base plus
  * 0/1/2/4/8-byte offsets per column and a NULL mask, with Spark's own
  * per-batch statistics row (`sources.NarrowCacheSerializer`); any other
  * relation keeps Spark's default cache format. `shuffle.partitions` is
  * pinned to the core count (not 200) so local runs don't drown in tiny
  * tasks; AQE coalesces further at runtime and re-plans skewed joins — at
  * cluster scale the same config scales by raising cores/partitions, no
  * code change.
  */
object Engine {

  /** Local executor slots for the mains: `SPARK_GRAFT_CPUS`, else every
    * core of the host.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Testdata scale-factor directory for the mains: `SPARK_GRAFT_SF_DIR`,
    * else sf0.1.
    */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The one session configuration, shared by the mains, the tests
    * and perfbench; `cores` is its only parameter. The driver's result
    * cap is 4g, not Spark's 1g, for the dense build's task results at
    * 1e8 keys. Bucketed layouts need no setting of their own: Spark's
    * `CacheManager` plans a cached relation with the auto bucketed-scan
    * rule off, and a bare scan's physical plan keeps its
    * HashPartitioning under the default.
    */
  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // surface catalog column stats (ANALYZE ... FOR COLUMNS) in
      // LogicalPlan.stats.attributeStats so planners (Q4112.minMaxLongs)
      // read min/max there with ZERO jobs; without them a materialized
      // cache's per-batch bounds cost one job, anything else one scan
      .config("spark.sql.cbo.planStats.enabled", "true")
      // the cache layout above; a static conf, so it holds for every
      // session of the JVM
      .config("spark.sql.cache.serializer", classOf[sources.NarrowCacheSerializer].getName)
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type,
      // so read them as Long and convert explicitly (see nanosToTimestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketed co-located joins) live outside the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // the dense build's task results reach the driver as one job's
      // results: 4 B/key, 8 B/key where a partition's keys are not one
      // ascending run, so 400-800 MB at 1e8 keys against the default
      // 1g cap
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native kernels as SQL functions + the Jaccard length-filter rule;
    // register() (not builder.withExtensions) so a getOrCreate that
    // returns an ALREADY-built session still gets both
    GraftExtensions.register(spark)
    spark
  }

  /** All driver testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped parquet SCHEMA cache (optimization round 11, guide
    * §6): without an explicit schema every `spark.read.parquet` infers
    * one — a footer read plus a driver-side job — and a bench session
    * builds several hundred plans over the same ten immutable tables,
    * so the inference tax is pure fixed overhead on every query. Caching
    * the schema (metadata only — never rows, never results; the scan
    * itself still runs per query) removes it. Keyed per session AND
    * path so a replaced SparkSession or a different scale factor can
    * never serve a stale schema; testdata files are immutable within a
    * run by the driver contract.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String),
      org.apache.spark.sql.types.StructType]()

  /** Load one parquet table from a scale-factor directory. Parquet scans
    * get predicate pushdown + column pruning from Catalyst for free, so
    * callers just select/filter declaratively.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(
      (System.identityHashCode(spark), path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** events table with `ts` normalized to TimestampType (µs), whatever
    * encoding the parquet writer chose:
    *  - TIMESTAMP(NANOS) arrives as Long under `nanosAsLong`; the ns→µs
    *    division must be integral (`div`) — a double roundtrip would lose
    *    precision above 2^53 ns (~1970+104 days).
    *  - timestamp[us] with no timezone arrives as TIMESTAMP_NTZ (the most
    *    common encoding from DuckDB/pandas/Iceberg writers); the session
    *    timezone is pinned UTC above, so the NTZ→LTZ cast is lossless and
    *    oracle-stable.
    */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
