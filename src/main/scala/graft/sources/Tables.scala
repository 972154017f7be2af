package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink helpers (SURVEY §2.1 generalized).
  *
  * Parquet in/out is the engine's native format (columnar, prunable,
  * splittable). Bucketed tables are the co-located-join path: two facts
  * bucketed by the same key into the same bucket count join with NO
  * exchange on either side — the 100 TB answer to "this join shuffles
  * both sides every night". The shuffle is paid once at write time.
  */
object Tables {

  /** Write `df` as the managed parquet table `table`, bucketed and
    * sorted on `key` into `buckets` buckets of one file each, so the
    * scan reports both the single-column HashPartitioning and the
    * per-bucket sort order: a grouped aggregate on `key` needs no
    * exchange, and a sort-merge join with a table bucketed the same way
    * needs neither exchange nor sort. Any table of that name is dropped
    * first, together with its warehouse location: a JVM that died
    * mid-run leaves the directory behind without its (in-memory)
    * catalog entry, and an Overwrite cannot reclaim a location the
    * catalog does not know.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Column-metadata key recording a measured narrow-storage choice:
    * a column stored int32 whose LOGICAL type is int64. The width rule
    * is a per-workload measurement (SCALING.md round 10 §6: narrow wins
    * scan-bound part-1 shapes, wide wins accumulate-bound part-2), and
    * carrying it as schema metadata means downstream readers inherit
    * the choice from the table itself instead of re-deriving it from
    * part numbers and env vars — the same move as recording bucketing
    * in the catalog rather than in the job that happened to write it.
    */
  val StoredWidthKey = "graft.storedWidth"
  private val LogicalTypeKey = "graft.logicalType"

  /** Store `cols` as int32 with metadata recording the int64 logical
    * type. The caller must have PROVEN the values fit (generator
    * contracts or column min/max stats) — the cast here would wrap
    * silently, so a stats check belongs at every call site.
    *
    * The cast saves no cache bytes under [[NarrowCacheSerializer]] and
    * no longer measures faster; ROADMAP lists retiring it, with the A/Bs.
    */
  def narrowStored(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    val narrow = cols.toSet
    df.select(df.columns.toSeq.map { c =>
      if (narrow(c)) {
        val md = new MetadataBuilder()
          .putString(StoredWidthKey, "int32")
          .putString(LogicalTypeKey, "int64")
          .build()
        col(c).cast("int").as(c, md)
      } else col(c)
    }: _*)
  }

  /** Restore every metadata-marked narrow column to its logical int64
    * type — the reader-side inverse of [[narrowStored]]. A reader that
    * does 64-bit arithmetic (the P1 widening contract) calls this and
    * never needs to know which columns the ingest measured as narrow.
    * Columns without the marker pass through untouched, so the call is
    * safe on any relation.
    */
  def widened(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.metadata.contains(StoredWidthKey) &&
          f.metadata.contains(LogicalTypeKey) &&
          f.metadata.getString(LogicalTypeKey) == "int64")
        col(f.name).cast("long").as(f.name)
      else col(f.name)
    }: _*)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** CSV source with an EXPLICIT schema — at corpus scale schema
    * inference is a full extra pass over the data, so it is opt-in only
    * (`inferSchema = true` for ad-hoc exploration).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType = null,
      header: Boolean = true, inferSchema: Boolean = false): DataFrame = {
    val r = spark.read.option("header", header.toString)
    val withSchema =
      if (schema != null) r.schema(schema)
      else r.option("inferSchema", inferSchema.toString)
    withSchema.csv(path)
  }

  /** JSON-lines source, explicit schema for the same reason: without one
    * Spark samples the whole input to infer, and corrupt rows land in
    * `_corrupt_record` instead of failing the pipeline.
    */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType = null): DataFrame = {
    val r = spark.read
    (if (schema != null) r.schema(schema) else r).json(path)
  }

  /** Hive-style partitioned parquet: one directory per `partitionCols`
    * value combination, so per-partition predicates prune whole
    * directories at planning time (zero I/O for untouched partitions) —
    * the standard 100 TB table layout (partition by date/tenant, bucket
    * by join key within).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** JSON-lines sink (interchange with non-columnar consumers). */
  def writeJsonLines(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC source/sink — the other columnar interchange format (Hive
    * ecosystems). Same pushdown/pruning contract as parquet: predicates
    * and column selection reach the stripe reader.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)
}
