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

  /** Write `df` as a bucketed, sorted managed table: `buckets` files per
    * partition keyed by `keys`, each bucket sorted — a sort-merge join
    * between two tables bucketed the same way needs neither exchange nor
    * sort.
    *
    * `narrowCols` applies the measured width rule ([[narrowStored]]) at
    * write time, so the bucketed layout records its storage width in the
    * table schema the same way it records its bucketing in the catalog.
    * Bucket keys are excluded by contract: Spark's bucket hash is
    * type-sensitive (Murmur3 over 4 bytes for int32, 8 for int64), so a
    * key narrowed on one side and wide on the other would co-locate
    * against the WRONG buckets — a silent wrong-partitioning hazard, not
    * a perf choice — and a key widened at read time loses its bucketed
    * partitioning to the cast anyway.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      keys: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      narrowCols: Seq[String] = Nil): Unit = {
    val narrowedKeys = narrowCols.toSet.intersect(keys.toSet)
    require(narrowedKeys.isEmpty,
      s"bucket keys ${narrowedKeys.mkString(", ")} must keep their logical width: " +
        "int32 and int64 bucket-hash differently, so a narrowed key co-locates " +
        "against the wrong buckets; narrow value columns only")
    val stored = if (narrowCols.isEmpty) df else narrowStored(df, narrowCols)
    stored.write
      .mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
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
    * The session's cache ([[NarrowCacheSerializer]]) already stores
    * every all-integral relation as narrow per-batch offsets, so this
    * cast no longer saves cache bytes there; it stays because part 1's
    * probe reads the narrowed columns as int vectors (SCALING §6).
    * Retiring it needs its own Matrix A/B at 1e-1.
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

  /** Append one CSV line per row — the reference's benchmark sink
    * (q4112_main.c:111-132 semantics).
    */
  def appendCsv(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Append).option("header", "false").csv(dir)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Read a table with every metadata-marked narrow column restored to
    * its logical width — the reader-side entry point for layouts written
    * with `writeBucketed(..., narrowCols)`. NOTE: widening is a cast
    * projection, so it discards the scan's bucketed output partitioning;
    * join on the (never-narrowed) bucket keys via [[readTable]] first and
    * widen AFTER the join when the exchange-free property matters.
    */
  def readTableWidened(spark: SparkSession, table: String): DataFrame =
    widened(spark.table(table))

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
