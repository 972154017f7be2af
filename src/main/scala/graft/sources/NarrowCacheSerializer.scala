package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.columnar.{CachedBatch, SimpleMetricsCachedBatch, SimpleMetricsCachedBatchSerializer}
import org.apache.spark.sql.execution.columnar.{DefaultCachedBatchSerializer, InMemoryRelation}
import org.apache.spark.sql.execution.vectorized.{OffHeapColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.storage.StorageLevel

import LongBatch.isNull

/** One column of a [[NarrowCachedBatch]]: each non-NULL value is
  * `base + offset`, the offset read unsigned from `offsets`, an array of
  * the fewest bytes that hold the batch's max − min: `null` for a
  * constant (or all-NULL) column, else `Array[Byte]`, `Array[Short]` or
  * `Array[Int]`; a span of 2^32 or more keeps the raw values as
  * `Array[Long]` with base 0. `nulls` is a bit mask of the NULL rows in
  * [[LongBatch]]'s format (`null` when the batch has none); a NULL
  * row's offset is 0, so a reader that looks at a NULL row's value
  * still sees one inside the batch's bounds.
  */
final case class NarrowColumn(base: Long, offsets: AnyRef, nulls: Array[Long])

/** A cached batch of an all-integral relation. `stats` is Spark's own
  * per-column statistics layout (lower bound, upper bound, null count,
  * count, bytes; the bounds typed like the column and NULL for a column
  * that is all NULL in the batch), which the cache's partition pruning
  * (`buildFilter`), `InMemoryRelation`'s statistics and
  * `Q4112.cachedBatchBounds` read.
  */
final case class NarrowCachedBatch(numRows: Int, columns: Array[NarrowColumn], stats: InternalRow)
  extends SimpleMetricsCachedBatch

/** The in-memory cache's serializer, `spark.sql.cache.serializer` of
  * [[graft.Engine.session]]. A relation whose columns are all byte,
  * short, int or long is stored frame-of-reference per batch of
  * `spark.sql.inMemoryColumnarStorage.batchSize` rows: one pass per
  * column finds min, max and the NULL count, then each column keeps a
  * base plus offsets of 0, 1, 2, 4 or 8 bytes ([[NarrowColumn]]) — the
  * reference's narrow in-memory column arrays (q4112.h:13-31), chosen
  * per batch from the data. Any other relation goes, whole, to Spark's
  * `DefaultCachedBatchSerializer`.
  *
  * Spark's default serializer gathers statistics for every compression
  * scheme per value (a boxed `HashMap` insert for dictionary encoding)
  * and then stores near-unique longs pass-through; here one min/max pass
  * per column is the whole cost of choosing a width. Measured on
  * perfbench's `q4112_probe` (2e7 generated rows, 4-core host, 10 paired
  * runs): caching took 1.49 s in place of 4.36 s and 211 MB of storage
  * in place of 316 MB.
  *
  * Reading widens each selected column of a batch in one loop per offset
  * width ([[NarrowCacheSerializer.widen]]): into a column vector of its
  * declared type for the columnar path, and into long buffers that fill
  * one `UnsafeRow` per row for the row path, which is what a collect or
  * a filter over a cached relation reads on Spark 4.1. Reading one and
  * three long columns of 1e7 cached rows on 4 cores took 94-147 ms on
  * the row path (the default serializer's generated accessor 108-147)
  * and 41-69 ms on the columnar path (default 49-65). `Q4112`'s dense
  * kernels read neither path once the cache is materialized: they read
  * [[NarrowCacheSerializer.longBatches]], the stored batches' columns
  * widened through the same `widen` into reused `long[]`s, as the row
  * path widens them before it writes its rows.
  *
  * The statistics' byte count is the decoded size Spark's own column
  * statistics report (the type's size per value, 4 per NULL), not the
  * stored size: the planner's readers of a cached relation's
  * `sizeInBytes` (AQE's broadcast threshold, `Dedup.linearParallelism`)
  * estimate the rows a plan will handle, which are decoded, so they read
  * the same figures as under the default serializer.
  */
class NarrowCacheSerializer extends SimpleMetricsCachedBatchSerializer {
  import NarrowCacheSerializer._

  private val default = new DefaultCachedBatchSerializer

  override def supportsColumnarInput(schema: Seq[Attribute]): Boolean =
    default.supportsColumnarInput(schema)

  override def convertColumnarBatchToCachedBatch(
      input: RDD[ColumnarBatch],
      schema: Seq[Attribute],
      storageLevel: StorageLevel,
      conf: SQLConf): RDD[CachedBatch] =
    default.convertColumnarBatchToCachedBatch(input, schema, storageLevel, conf)

  override def convertInternalRowToCachedBatch(
      input: RDD[InternalRow],
      schema: Seq[Attribute],
      storageLevel: StorageLevel,
      conf: SQLConf): RDD[CachedBatch] =
    if (!narrow(schema.map(_.dataType)))
      default.convertInternalRowToCachedBatch(input, schema, storageLevel, conf)
    else {
      val types = schema.map(_.dataType).toArray
      val batchSize = conf.columnBatchSize
      input.mapPartitions(rows => new BatchBuilder(rows, types, batchSize))
    }

  override def supportsColumnarOutput(schema: StructType): Boolean =
    narrow(schema.map(_.dataType)) || default.supportsColumnarOutput(schema)

  override def vectorTypes(attributes: Seq[Attribute], conf: SQLConf): Option[Seq[String]] =
    default.vectorTypes(attributes, conf)

  override def convertCachedBatchToColumnarBatch(
      input: RDD[CachedBatch],
      cacheAttributes: Seq[Attribute],
      selectedAttributes: Seq[Attribute],
      conf: SQLConf): RDD[ColumnarBatch] =
    if (!narrow(cacheAttributes.map(_.dataType)))
      default.convertCachedBatchToColumnarBatch(input, cacheAttributes, selectedAttributes, conf)
    else {
      val ordinals = ordinalsOf(cacheAttributes, selectedAttributes)
      val schema = DataTypeUtils.fromAttributes(selectedAttributes)
      val offHeap = conf.offHeapColumnVectorEnabled
      input.mapPartitions { batches =>
        var scratch = new Array[Long](0)
        batches.map { cb =>
          val b = cb.asInstanceOf[NarrowCachedBatch]
          if (scratch.length < b.numRows) scratch = new Array[Long](b.numRows)
          decode(b, ordinals, schema, offHeap, scratch)
        }
      }
    }

  override def convertCachedBatchToInternalRow(
      input: RDD[CachedBatch],
      cacheAttributes: Seq[Attribute],
      selectedAttributes: Seq[Attribute],
      conf: SQLConf): RDD[InternalRow] =
    if (!narrow(cacheAttributes.map(_.dataType)))
      default.convertCachedBatchToInternalRow(input, cacheAttributes, selectedAttributes, conf)
    else {
      val ordinals = ordinalsOf(cacheAttributes, selectedAttributes)
      val types = selectedAttributes.map(_.dataType).toArray
      input.mapPartitions(batches => new RowReader(widened(batches, ordinals), types))
    }
}

object NarrowCacheSerializer {

  /** True for a schema this serializer stores itself: non-empty and all
    * byte, short, int or long.
    */
  def narrow(types: Seq[DataType]): Boolean = types.nonEmpty && types.forall {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def ordinalsOf(cache: Seq[Attribute], selected: Seq[Attribute]): Array[Int] =
    selected.map(a => cache.indexWhere(_.exprId == a.exprId)).toArray

  /** The `selected` columns of each batch of `r`'s buffers, widened to
    * long with their stored NULL masks, in one task-reused [[LongBatch]]
    * per partition. None unless this serializer stores `r` itself and
    * every selected attribute is one of `r`'s. Reading the buffers
    * builds them when they are not, so the caller decides whether `r` is
    * materialized.
    */
  private[graft] def longBatches(
      r: InMemoryRelation, selected: Seq[Attribute]): Option[RDD[LongBatch]] = {
    val ordinals = ordinalsOf(r.output, selected)
    if (!r.cacheBuilder.serializer.isInstanceOf[NarrowCacheSerializer] ||
        !narrow(r.output.map(_.dataType)) || ordinals.contains(-1)) None
    else Some(r.cacheBuilder.cachedColumnBuffers.mapPartitions(widened(_, ordinals)))
  }

  /** Each batch's `ordinals` columns widened into one reused [[LongBatch]]. */
  private def widened(batches: Iterator[CachedBatch], ordinals: Array[Int]): Iterator[LongBatch] = {
    val b = new LongBatch(ordinals.length)
    batches.map { cb =>
      val nb = cb.asInstanceOf[NarrowCachedBatch]
      b.reset(nb.numRows)
      var j = 0
      while (j < ordinals.length) {
        val c = nb.columns(ordinals(j))
        widen(c, nb.numRows, b.vals(j))
        b.nulls(j) = c.nulls
        j += 1
      }
      b
    }
  }

  /** 0 long, 1 int, 2 short, 3 byte: the row loops' switch. */
  private def kind(t: DataType): Int = t match {
    case LongType => 0
    case IntegerType => 1
    case ShortType => 2
    case ByteType => 3
  }

  /** Cuts a partition's rows into [[NarrowCachedBatch]]es of at most
    * `batchSize` rows. The per-column value buffers and NULL masks are
    * reused across the partition's batches; they start at 2^16 rows at
    * most and double as a larger batch fills them, so a huge configured
    * batch size costs only the rows a partition has.
    */
  private final class BatchBuilder(rows: Iterator[InternalRow], types: Array[DataType],
      batchSize: Int) extends Iterator[CachedBatch] {
    private var capacity = math.min(batchSize, 1 << 16)
    private val vals = Array.fill(types.length)(new Array[Long](capacity))
    private val masks = Array.fill(types.length)(new Array[Long]((capacity + 63) >>> 6))
    private val nullCounts = new Array[Int](types.length)
    private val kinds = types.map(kind)

    override def hasNext: Boolean = rows.hasNext

    override def next(): CachedBatch = {
      java.util.Arrays.fill(nullCounts, 0)
      masks.foreach(java.util.Arrays.fill(_, 0L))
      var n = 0
      while (n < batchSize && rows.hasNext) {
        if (n == capacity) grow()
        val row = rows.next()
        var j = 0
        while (j < kinds.length) {
          if (row.isNullAt(j)) {
            masks(j)(n >>> 6) |= 1L << n
            nullCounts(j) += 1
          } else vals(j)(n) = (kinds(j): @scala.annotation.switch) match {
            case 0 => row.getLong(j)
            case 1 => row.getInt(j).toLong
            case 2 => row.getShort(j).toLong
            case _ => row.getByte(j).toLong
          }
          j += 1
        }
        n += 1
      }
      val stats = new Array[Any](5 * types.length)
      val columns = Array.tabulate(types.length)(j => encode(j, n, stats))
      NarrowCachedBatch(n, columns, new GenericInternalRow(stats))
    }

    private def grow(): Unit = {
      capacity = math.min(batchSize.toLong, 2L * capacity).toInt
      for (j <- types.indices) {
        vals(j) = java.util.Arrays.copyOf(vals(j), capacity)
        masks(j) = java.util.Arrays.copyOf(masks(j), (capacity + 63) >>> 6)
      }
    }

    /** Encode column `j`'s first `n` values and write its statistics. */
    private def encode(j: Int, n: Int, stats: Array[Any]): NarrowColumn = {
      val v = vals(j)
      val nullCount = nullCounts(j)
      val nulls = if (nullCount == 0) null else java.util.Arrays.copyOf(masks(j), (n + 63) >>> 6)
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var i = 0
      while (i < n) {
        if (!isNull(nulls, i)) {
          lo = math.min(lo, v(i))
          hi = math.max(hi, v(i))
        }
        i += 1
      }
      val t = types(j)
      stats(5 * j + 2) = nullCount
      stats(5 * j + 3) = n
      stats(5 * j + 4) = (n - nullCount).toLong * t.defaultSize + 4L * nullCount
      if (nullCount == n) return NarrowColumn(0L, null, nulls) // bounds stay NULL
      stats(5 * j) = typed(lo, t)
      stats(5 * j + 1) = typed(hi, t)
      if (nulls != null) { // a NULL row's offset is 0
        i = 0
        while (i < n) {
          if (isNull(nulls, i)) v(i) = lo
          i += 1
        }
      }
      val span = hi - lo // unsigned
      val offsets: AnyRef =
        if (span == 0L) null
        else if (java.lang.Long.compareUnsigned(span, 0xFFL) <= 0) {
          val a = new Array[Byte](n); i = 0
          while (i < n) { a(i) = (v(i) - lo).toByte; i += 1 }
          a
        } else if (java.lang.Long.compareUnsigned(span, 0xFFFFL) <= 0) {
          val a = new Array[Short](n); i = 0
          while (i < n) { a(i) = (v(i) - lo).toShort; i += 1 }
          a
        } else if (java.lang.Long.compareUnsigned(span, 0xFFFFFFFFL) <= 0) {
          val a = new Array[Int](n); i = 0
          while (i < n) { a(i) = (v(i) - lo).toInt; i += 1 }
          a
        } else return NarrowColumn(0L, java.util.Arrays.copyOf(v, n), nulls)
      NarrowColumn(lo, offsets, nulls)
    }
  }

  private def typed(v: Long, t: DataType): Any = t match {
    case LongType => v
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
  }

  /** Writes column `c`'s `n` values, as longs, into `out`: one widening
    * loop per offset width. A NULL row reads the batch minimum.
    */
  private def widen(c: NarrowColumn, n: Int, out: Array[Long]): Unit = {
    val base = c.base
    var i = 0
    c.offsets match {
      case null => java.util.Arrays.fill(out, 0, n, base)
      case a: Array[Byte] => while (i < n) { out(i) = base + (a(i) & 0xFFL); i += 1 }
      case a: Array[Short] => while (i < n) { out(i) = base + (a(i) & 0xFFFFL); i += 1 }
      case a: Array[Int] => while (i < n) { out(i) = base + (a(i) & 0xFFFFFFFFL); i += 1 }
      case a: Array[Long] => System.arraycopy(a, 0, out, 0, n)
    }
  }

  /** Decodes the `ordinals` columns of `b` into vectors of `schema`'s
    * types, through `scratch` (at least `b.numRows` long).
    */
  private def decode(b: NarrowCachedBatch, ordinals: Array[Int], schema: StructType,
      offHeap: Boolean, scratch: Array[Long]): ColumnarBatch = {
    val n = b.numRows
    val ctx = TaskContext.get()
    // the same vector choice as the default serializer, which
    // `vectorTypes` declares to the generated reader
    val vectors: Array[_ <: WritableColumnVector] =
      if (!offHeap || ctx == null) OnHeapColumnVector.allocateColumns(n, schema)
      else OffHeapColumnVector.allocateColumns(n, schema)
    for (j <- ordinals.indices) {
      val c = b.columns(ordinals(j))
      val out = vectors(j)
      widen(c, n, scratch)
      var i = 0
      schema.fields(j).dataType match {
        case LongType => out.putLongs(0, n, scratch, 0)
        case IntegerType => while (i < n) { out.putInt(i, scratch(i).toInt); i += 1 }
        case ShortType => while (i < n) { out.putShort(i, scratch(i).toShort); i += 1 }
        case ByteType => while (i < n) { out.putByte(i, scratch(i).toByte); i += 1 }
      }
      if (c.nulls != null) {
        i = 0
        while (i < n) { if (isNull(c.nulls, i)) out.putNull(i); i += 1 }
      }
    }
    val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], n)
    // off-heap vectors hold native memory until closed
    if (offHeap && ctx != null) ctx.addTaskCompletionListener[Unit](_ => batch.close())
    batch
  }

  /** The row path: each batch's selected columns widened once into a
    * [[LongBatch]], then one `UnsafeRow` written per row, as the default
    * serializer's generated accessor does.
    */
  private final class RowReader(batches: Iterator[LongBatch], types: Array[DataType])
      extends Iterator[InternalRow] {
    private val kinds = types.map(kind)
    private val writer = new UnsafeRowWriter(types.length)
    private var b: LongBatch = null
    private var i = 0

    override def hasNext: Boolean = {
      while ((b == null || i == b.n) && batches.hasNext) {
        b = batches.next()
        i = 0
      }
      b != null && i < b.n
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      writer.reset()
      writer.zeroOutNullBytes()
      var j = 0
      while (j < kinds.length) {
        if (isNull(b.nulls(j), i)) writer.setNullAt(j)
        else (kinds(j): @scala.annotation.switch) match {
          case 0 => writer.write(j, b.vals(j)(i))
          case 1 => writer.write(j, b.vals(j)(i).toInt)
          case 2 => writer.write(j, b.vals(j)(i).toShort)
          case _ => writer.write(j, b.vals(j)(i).toByte)
        }
        j += 1
      }
      i += 1
      writer.getRow
    }
  }
}
