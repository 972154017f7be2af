package graft

import graft.ops.Q4112
import graft.sources.{NarrowCachedBatch, NarrowCacheSerializer, NarrowColumn}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.columnar.SimpleMetricsCachedBatch
import org.apache.spark.sql.execution.columnar.{DefaultCachedBatch, DefaultCachedBatchSerializer, InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The session's cache serializer ([[NarrowCacheSerializer]]): an
  * all-integral relation reads back from the cache exactly as it went
  * in, at every offset width, with NULLs, across batch edges, through
  * the columnar and the row path and from disk; its per-batch
  * statistics are Spark's, so partition pruning, the relation's
  * statistics and `Q4112.minMaxLongs` read the right figures; any other
  * relation is served by Spark's default serializer.
  */
class NarrowCacheSpec extends SparkSpec {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val batchSize = "spark.sql.inMemoryColumnarStorage.batchSize"

  /** `rows` under `schema` in `parts` partitions, cached and materialized
    * under `conf`, passed to `body`, then dropped.
    */
  private def withCached[T](rows: Seq[Row], schema: StructType, parts: Int = 1,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK, conf: Seq[(String, String)] = Nil)(
      body: DataFrame => T): T = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
    withConf(conf: _*) { df.persist(level).count() }
    try body(df)
    finally { df.unpersist(blocking = true); Q4112.clearRelationCaches() }
  }

  private def relation(df: DataFrame): InMemoryRelation =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail("not a cached plan"))

  private def batches(df: DataFrame) =
    relation(df).cacheBuilder.cachedColumnBuffers.collect().toSeq

  /** Bytes per stored offset of a cached column: 0, 1, 2, 4 or 8. */
  private def width(c: NarrowColumn): Int = c.offsets match {
    case null => 0
    case _: Array[Byte] => 1
    case _: Array[Short] => 2
    case _: Array[Int] => 4
    case _: Array[Long] => 8
  }

  private def narrowBatches(df: DataFrame): Seq[NarrowCachedBatch] =
    batches(df).map {
      case b: NarrowCachedBatch => b
      case b => fail(s"expected a narrow batch, got ${b.getClass.getName}")
    }

  /** The rows of a cached relation, or of an attribute-only selection of
    * one, in order, read twice: by the query (collecting a cached scan
    * takes the row path) and from the scan's columnar batches
    * (`executeColumnar`, the path `Q4112`'s kernels read).
    */
  private def read(df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq
    val scan = df.queryExecution.executedPlan match {
      case s: InMemoryTableScanExec => s
      case p => fail(s"not a bare cached scan: $p")
    }
    assert(scan.supportsColumnar)
    val types = scan.output.map(_.dataType)
    val columnar = scan.executeColumnar().flatMap(_.rowIterator().asScala.map(r =>
      Row.fromSeq(types.indices.map(i => if (r.isNullAt(i)) null else r.get(i, types(i))))))
    assert(columnar.collect().toSeq === rows)
    rows
  }

  /** `n` values spanning exactly [lo, hi] (both present), scrambled. */
  private def spread(lo: BigInt, hi: BigInt, n: Int): Seq[BigInt] =
    (0 until n).map(i => lo + (hi - lo) * ((i * 7) % n) / (n - 1))

  private def as(t: DataType, v: BigInt): Any = t match {
    case LongType => v.toLong
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
  }

  // (type, lo, hi, expected offset width): every width class of every
  // type, with the spans of exactly 2^8, 2^16 and 2^32 and the full long
  private val widthCases: Seq[(DataType, BigInt, BigInt, Int)] = Seq(
    (LongType, 42, 42, 0),
    (LongType, -100, 155, 1),
    (LongType, -5, 251, 2),
    (LongType, 1000, 66535, 2),
    (LongType, 1000, 66536, 4),
    (LongType, -(BigInt(1) << 31), (BigInt(1) << 31) - 1, 4),
    (LongType, 0, BigInt(1) << 32, 8),
    (LongType, Long.MinValue, Long.MaxValue, 8),
    (IntegerType, -7, -7, 0),
    (IntegerType, -128, 127, 1),
    (IntegerType, 0, 256, 2),
    (IntegerType, 0, 65536, 4),
    (IntegerType, Int.MinValue, Int.MaxValue, 4),
    (ShortType, 3, 3, 0),
    (ShortType, 7, 262, 1),
    (ShortType, 0, 256, 2),
    (ShortType, Short.MinValue, Short.MaxValue, 2),
    (ByteType, -1, -1, 0),
    (ByteType, Byte.MinValue, Byte.MaxValue, 1))

  test("every integral type reads back exactly at every offset width") {
    val n = 20
    val schema = StructType(widthCases.indices.map(j =>
      StructField(s"c$j", widthCases(j)._1, nullable = true)))
    val cols = widthCases.map { case (t, lo, hi, _) => spread(lo, hi, n).map(as(t, _)) }
    val rows = (0 until n).map(i => Row.fromSeq(cols.map(_(i))))
    withCached(rows, schema) { df =>
      val Seq(b) = narrowBatches(df)
      assert(b.columns.map(width).toSeq === widthCases.map(_._4))
      assert(read(df) === rows)
      withConf("spark.sql.columnVector.offheap.enabled" -> "true") { assert(read(df) === rows) }
      // a selected and reordered subset decodes only those columns
      val pick = Seq(7, 0, 12, 18, 5)
      assert(read(df.select(pick.map(j => col(s"c$j")): _*)) ===
        rows.map(r => Row.fromSeq(pick.map(r.get))))
    }
  }

  test("NULLs, an all-NULL batch and an all-NULL column read back across batch edges of 7") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("i", IntegerType),
      StructField("s", ShortType), StructField("b", ByteType),
      StructField("none", LongType)))
    // 40 rows in 2 partitions: batches of 7, 7, 6 each; rows 7..13 (the
    // second batch of the first partition) are NULL in every column but id
    val rows = (0 until 40).map { k =>
      def v[T](x: T): Any = if ((7 until 14).contains(k) || k % 5 == 3) null else x
      Row(k.toLong * -1000000007L, v(k * 99991 - 2000000), v((k * 1000 - 20000).toShort),
        v((k * 6 - 120).toByte), null)
    }
    withCached(rows, schema, parts = 2, conf = Seq(batchSize -> "7")) { df =>
      val bs = narrowBatches(df)
      assert(bs.map(_.numRows) === Seq(7, 7, 6, 7, 7, 6))
      assert(bs(1).columns.tail.forall(c => width(c) == 0 && c.nulls != null))
      assert(bs.forall(_.columns(4).nulls != null))
      assert(read(df) === rows)
      assert(read(df.select("none", "s", "id")) === rows.map(r => Row(r(4), r(2), r(0))))
      assert(relation(df).stats.rowCount === Some(BigInt(40)))
    }
  }

  test("a batch past the builder's initial 2^16-row buffers reads back exactly") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", IntegerType)))
    val rows = (0 until 70005).map(k =>
      Row(k.toLong * 3 - 100000, if (k % 1000 == 999) null else k % 300))
    withCached(rows, schema, conf = Seq(batchSize -> "70000")) { df =>
      val bs = narrowBatches(df)
      assert(bs.map(_.numRows) === Seq(70000, 5))
      assert(bs.map(_.columns.map(width).toSeq) === Seq(Seq(4, 2), Seq(1, 1)))
      assert(read(df) === rows)
    }
  }

  test("an empty relation caches and reads back empty") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", IntegerType)))
    withCached(Seq.empty[Row], schema, parts = 2) { df =>
      assert(batches(df).isEmpty)
      assert(read(df).isEmpty)
      assert(df.agg(count(lit(1)), max(col("a"))).head() === Row(0L, null))
      assert(relation(df).stats.rowCount === Some(BigInt(0)))
    }
  }

  test("a relation with a non-integral column is served whole by the default serializer") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    val rows = (0 until 30).map(k => Row(k.toLong * 31 - 400, if (k % 4 == 0) null else s"v$k"))
    withCached(rows, schema, parts = 3) { df =>
      assert(batches(df).forall(_.isInstanceOf[DefaultCachedBatch]))
      assert(batches(df).nonEmpty)
      assert(df.collect().toSeq === rows)
      assert(df.select("a").collect().toSeq === rows.map(r => Row(r(0))))
    }
    assert(!NarrowCacheSerializer.narrow(Seq(LongType, DoubleType)))
    assert(!NarrowCacheSerializer.narrow(Nil))
    assert(NarrowCacheSerializer.narrow(Seq(ByteType, ShortType, IntegerType, LongType)))
  }

  // 60 rows with NULLs, negative and wide values, in batches of 7
  private val statsSchema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("s", ShortType), StructField("b", ByteType), StructField("none", IntegerType)))
  private val statsRows = (0 until 60).map { k =>
    Row(if (k % 9 == 4) null else if (k == 17) Long.MinValue else if (k == 41) Long.MaxValue
      else k * 1234567L - 30000000L,
      if ((14 until 21).contains(k)) null else (k - 30) * 70000000,
      (k * 100 - 3000).toShort, if (k % 2 == 0) null else (k * 4 - 120).toByte, null)
  }

  test("each batch's statistics row equals the default serializer's, with NULL bounds when all NULL") {
    withCached(statsRows, statsSchema, parts = 3, conf = Seq(batchSize -> "7")) { df =>
      val narrowStats = narrowBatches(df)
      val rel = relation(df)
      val default = withConf(batchSize -> "7") {
        new DefaultCachedBatchSerializer().convertInternalRowToCachedBatch(
          df.queryExecution.toRdd, rel.output, StorageLevel.MEMORY_ONLY, SQLConf.get)
          .collect().toSeq.map(_.asInstanceOf[SimpleMetricsCachedBatch])
      }
      assert(narrowStats.map(_.numRows) === default.map(_.numRows))
      for ((mine, theirs) <- narrowStats.zip(default); j <- statsSchema.indices) {
        val t = statsSchema(j).dataType
        val (nullCount, count) = (theirs.stats.getInt(5 * j + 2), theirs.stats.getInt(5 * j + 3))
        assert(mine.stats.getInt(5 * j + 2) === nullCount)
        assert(mine.stats.getInt(5 * j + 3) === count)
        assert(mine.stats.getLong(5 * j + 4) === theirs.stats.getLong(5 * j + 4))
        if (nullCount < count) {
          assert(mine.stats.get(5 * j, t) === theirs.stats.get(5 * j, t))
          assert(mine.stats.get(5 * j + 1, t) === theirs.stats.get(5 * j + 1, t))
        } else assert(mine.stats.isNullAt(5 * j) && mine.stats.isNullAt(5 * j + 1))
      }
      // the relation's statistics, which planners read, are the default's
      assert(rel.stats.sizeInBytes === default.map(_.sizeInBytes).sum)
    }
  }

  test("where filters over a pruned cache equal the uncached answer") {
    withCached(statsRows, statsSchema, parts = 3, conf = Seq(batchSize -> "7")) { df =>
      val cases: Seq[(DataFrame, Row => Boolean)] = Seq(
        df.where(col("l") === 7037010L) -> (r => !r.isNullAt(0) && r.getLong(0) == 7037010L),
        df.where(col("l") === Long.MinValue) -> (r => !r.isNullAt(0) && r.getLong(0) == Long.MinValue),
        df.where(col("i") < -1000000000) -> (r => !r.isNullAt(1) && r.getInt(1) < -1000000000),
        df.where(col("s") > 2500) -> (r => r.getShort(2) > 2500),
        df.where(col("b") === 100) -> (r => !r.isNullAt(3) && r.getByte(3) == 100),
        df.where(col("i").isNull) -> (r => r.isNullAt(1)),
        df.where(col("none") === 0) -> (_ => false),
        df.where(col("none").isNull && col("b").isNull) -> (r => r.isNullAt(3)))
      for ((q, p) <- cases) {
        assert(q.collect().toSeq === statsRows.filter(p), q.queryExecution.analyzed)
        val scanned = q.queryExecution.executedPlan.collectFirst {
          case s: InMemoryTableScanExec => s.metrics("numOutputRows").value
        }.get
        assert(scanned >= statsRows.count(p))
      }
      // pruning ran: an equality on one value reads one batch of 7
      val one = df.where(col("l") === 7037010L)
      one.collect()
      assert(one.queryExecution.executedPlan.collectFirst {
        case s: InMemoryTableScanExec => s.metrics("numOutputRows").value
      } === Some(7L))
    }
  }

  test("with the vectorized cache reader off, scans and shuffles read the same rows") {
    withCached(statsRows, statsSchema, parts = 3, conf = Seq(batchSize -> "7")) { df =>
      withConf("spark.sql.inMemoryColumnarStorage.enableVectorizedReader" -> "false") {
        val q = df.select("b", "l", "none")
        val rows = q.collect().toSeq
        assert(q.queryExecution.executedPlan.collectFirst {
          case s: InMemoryTableScanExec => s.supportsColumnar
        } === Some(false))
        assert(rows === statsRows.map(r => Row(r(3), r(0), r(4))))
        assert(df.where(col("i") < 0).collect().toSeq ===
          statsRows.filter(r => !r.isNullAt(1) && r.getInt(1) < 0))
        // a plan that shuffles the scan's rows needs UnsafeRows
        assert(df.repartition(2, col("s")).collect().toSet === statsRows.toSet)
      }
    }
  }

  test("persist(DISK_ONLY) serializes narrow batches and reads them back") {
    withCached(statsRows, statsSchema, parts = 3, level = StorageLevel.DISK_ONLY,
        conf = Seq(batchSize -> "7")) { df =>
      assert(narrowBatches(df).size === 9)
      assert(read(df) === statsRows)
      assert(df.where(col("s") > 2500).select("s").collect().toSeq ===
        statsRows.filter(_.getShort(2) > 2500).map(r => Row(r(2))))
    }
  }

  test("minMaxLongs reads exact bounds of negative and wide columns from the batch statistics") {
    Q4112.clearRelationCaches()
    withCached(statsRows, statsSchema, parts = 3, conf = Seq(batchSize -> "7")) { df =>
      val cols = Seq("l", "i", "s", "b")
      val expected = cols.indices.map { j =>
        val vs = statsRows.filterNot(_.isNullAt(j)).map(_.getAs[Number](j).longValue)
        (vs.min, vs.max)
      }
      assert(expected === Seq((Long.MinValue, Long.MaxValue), (-2100000000L, 2030000000L),
        (-3000L, 2900L), (-116L, 116L)))
      var got: Seq[(Long, Long)] = Nil
      assert(countJobs { got = Q4112.minMaxLongs(df, cols) } === 1)
      assert(got === expected)
      assert(countJobs { got = Q4112.minMaxLongs(df.select("b", "s"), Seq("b", "s")) } === 1)
      assert(got === expected.reverse.take(2))
      assert(countJobs { got = Q4112.minMaxLongs(df, cols) } === 0)
      assert(got === expected)
      var none: Option[Seq[(Long, Long)]] = Some(Nil)
      assert(countJobs { none = Q4112.minMaxLongsOpt(df, Seq("none")) } === 1)
      assert(none === None)
    }
  }
}
