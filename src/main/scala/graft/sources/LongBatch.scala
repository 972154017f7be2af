package graft.sources

import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.vectorized.ColumnVector

/** One batch of long columns: `n` rows; column j's values in `vals(j)`
  * and its NULL rows in `nulls(j)`, a bit mask read by
  * [[LongBatch.isNull]], null when the column has no NULL in the batch
  * (a NULL row's value is unspecified). [[NarrowColumn]] keeps its NULL
  * rows in the same format, so a batch widened from the cache
  * ([[NarrowCacheSerializer.longBatches]]) shares the stored masks. One
  * task reuses the arrays from batch to batch, so a reader reads each
  * batch before it asks for the next. `Q4112`'s dense kernels read this
  * form.
  */
private[graft] final class LongBatch(width: Int) {
  var n = 0
  val vals: Array[Array[Long]] = Array.fill(width)(Array.emptyLongArray)
  val nulls = new Array[Array[Long]](width)
  private val masks = Array.fill(width)(Array.emptyLongArray)

  /** Starts a batch of up to `rows` rows with no NULL. */
  def reset(rows: Int): Unit = {
    n = rows
    var j = 0
    while (j < width) {
      if (vals(j).length < rows) vals(j) = new Array[Long](rows)
      nulls(j) = null
      j += 1
    }
  }

  /** Marks row `i` of column `j` NULL. */
  def setNull(j: Int, i: Int): Unit = {
    if (nulls(j) == null) {
      val words = (n + 63) >>> 6
      if (masks(j).length < words) masks(j) = new Array[Long](words)
      else java.util.Arrays.fill(masks(j), 0, words, 0L)
      nulls(j) = masks(j)
    }
    nulls(j)(i >>> 6) |= 1L << i
  }

  /** Copies an int or long vector of `n` rows into column `j`. */
  def copy(j: Int, v: ColumnVector): Unit = {
    val out = vals(j)
    var i = 0
    if (v.dataType == IntegerType) while (i < n) { out(i) = v.getInt(i); i += 1 }
    else while (i < n) { out(i) = v.getLong(i); i += 1 }
    if (v.hasNull) {
      i = 0
      while (i < n) { if (v.isNullAt(i)) setNull(j, i); i += 1 }
    }
  }
}

private[graft] object LongBatch {

  /** Is row `i` NULL in `nulls` (null: none is)? Bit `i % 64` of word
    * `i / 64` marks row `i`.
    */
  def isNull(nulls: Array[Long], i: Int): Boolean =
    nulls != null && (nulls(i >>> 6) & (1L << i)) != 0L
}
