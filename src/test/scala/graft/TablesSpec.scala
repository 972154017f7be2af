package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Bucketed co-located join: the shuffle-free large×large join path. */
class TablesSpec extends SparkSpec {

  test("same-bucketing sort-merge join runs with no Exchange on either side") {
    val li = Engine.table(spark, sfDir, "lineitem")
      .select(col("l_partkey"), floor(col("l_quantity")).as("qty"))
    val pt = Engine.table(spark, sfDir, "part")
      .select(col("p_partkey"), floor(col("p_retailprice")).as("price"))
    Tables.writeBucketed(li, "li_bucketed", 8, "l_partkey")
    Tables.writeBucketed(pt, "part_bucketed", 8, "p_partkey")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = Tables.readTable(spark, "li_bucketed")
        .join(Tables.readTable(spark, "part_bucketed"),
          col("l_partkey") === col("p_partkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

      // and it computes the same thing as the plain join
      val expected = li.join(pt, col("l_partkey") === col("p_partkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("partitioned parquet write prunes untouched partitions at planning time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "2026-01-01", 10.0), (2L, "2026-01-02", 20.0),
      (3L, "2026-01-02", 30.0)).toDF("id", "dt", "v")
    Tables.writePartitioned(df, dir, Seq("dt"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    val pruned = back.filter(col("dt") === "2026-01-02")
    // partition pruning: only the dt=2026-01-02 directory is scanned
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() === 2)
    assert(!scan.contains("2026-01-01"), s"expected pruned scan:\n$scan")
  }

  test("orc round-trips with predicate pushdown in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Engine.table(spark, sfDir, "supplier")
    graft.sources.Tables.writeOrc(src, s"$dir/supplier")
    val back = graft.sources.Tables.readOrc(spark, s"$dir/supplier")
    assert(back.count() === src.count())
    val filtered = back.filter(org.apache.spark.sql.functions.col("s_nationkey") === 3)
      .select("s_suppkey")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("s_nationkey"),
      s"no pushed filter in:\n$scan")
    assert(filtered.count() ===
      src.filter(org.apache.spark.sql.functions.col("s_nationkey") === 3).count())
  }

  test("csv and json-lines round-trip with explicit schemas") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val csvDir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    df.write.mode("overwrite").option("header", "true").csv(csvDir)
    val csvBack = Tables.readCsv(spark, csvDir, schema)
    assert(csvBack.schema === schema)
    assert(csvBack.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))

    val jsonDir = java.nio.file.Files.createTempDirectory("graft_json").toString
    Tables.writeJsonLines(df, jsonDir)
    val jsonBack = Tables.readJsonLines(spark, jsonDir, schema)
    assert(jsonBack.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("narrow width rule travels as table metadata and widens losslessly") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import spark.implicits._
    val df = Seq((1L, 10L, 99999L), (2L, 20L, 5L))
      .toDF("itemId", "storeId", "quantity")
    val narrow = Tables.narrowStored(df, Seq("storeId", "quantity"))
    // stored types follow the rule; untouched columns carry no marker
    assert(narrow.schema("storeId").dataType === IntegerType)
    assert(narrow.schema("quantity").dataType === IntegerType)
    assert(narrow.schema("itemId").dataType === LongType)
    assert(narrow.schema("storeId").metadata.getString(Tables.StoredWidthKey) === "int32")
    assert(!narrow.schema("itemId").metadata.contains(Tables.StoredWidthKey))
    // the reader-side inverse needs NO knowledge of which columns were
    // narrowed — it reads the rule off the schema
    val wide = Tables.widened(narrow)
    assert(wide.schema.fields.forall(_.dataType === LongType))
    assert(wide.as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 10L, 99999L), (2L, 20L, 5L)))
    // widened is a safe no-op on an unmarked relation
    assert(Tables.widened(df).schema === df.schema)
    // and the rule is a property of the TABLE: it survives a parquet
    // round-trip (Spark keeps column metadata in the file footer), so a
    // reader in another job inherits the measured choice
    val dir = java.nio.file.Files.createTempDirectory("graft_width").toString + "/t"
    narrow.write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("quantity").metadata.getString(Tables.StoredWidthKey) === "int32")
    val wideBack = Tables.widened(back)
    assert(wideBack.schema("quantity").dataType === LongType)
    assert(wideBack.select("itemId", "storeId", "quantity").as[(Long, Long, Long)]
      .collect().toSet === Set((1L, 10L, 99999L), (2L, 20L, 5L)))
  }
}
