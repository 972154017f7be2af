package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A dense build side, broadcast: the value of key `minKey + k` is
  * `base + (values(k) & 0xFFFFFFFFL)`, an unsigned 32-bit offset from
  * the value column's minimum `base`. The reference stores the same
  * column as `uint32_t* inner_vals` (q4112.h:16-17); half the bytes of
  * a long array, so half the broadcast. Built by
  * `graft.ops.Q4112.denseValuesArray`.
  */
final case class DenseBuild(values: Broadcast[Array[Int]], minKey: Long, base: Long)

object DenseBuild {
  /** The value an offset of a build with this `base` stands for: every
    * reader but the generated code of [[DenseArrayLookup]] decodes here.
    */
  @inline def value(base: Long, off: Int): Long = base + (off & 0xFFFFFFFFL)
}

/** O(1) array probe into a broadcast dense-key dimension — the
  * "perfect hash join" special case real engines apply when a build
  * side's integer keys form a contiguous domain [minKey, minKey+n):
  * the hash table degenerates to a value array and the probe to a
  * bounds-check + index, with no hashing, no probe chains, and perfect
  * cache behavior per miss-free lookup.
  *
  * The reference's build side IS this shape (items.id is dense 1..n —
  * q4112.h:14, SURVEY §2.1 S1), which is much of why its hand-tuned
  * probes are fast; its open-addressing table (q4112_hj_1.c:38-43) is a
  * general hash that this operator strictly beats on dense domains.
  *
  * Scale shape: identical to a broadcast hash join — the array ships
  * once per executor (the `Broadcast` handle serializes, the payload
  * travels via torrent); the probe side never moves. The array holds
  * unsigned 32-bit offsets from the build's `base` ([[DenseBuild]]), so
  * a 1e8-key dim is a 400 MB int[] — less than the equivalent
  * `LongHashedRelation`, which stores every key and row beside its
  * buckets.
  *
  * Returns NULL for keys outside the domain → `.where(isNotNull)`
  * reproduces inner-join drop semantics exactly.
  *
  * Used by the plans that still need (group, v) rows after the probe:
  * `Q4112.part2DenseLookup` (the planner's `partial` and bucketed-layout
  * plans over a dense build side, whose aggregate hashes), and
  * `Q4112.groupedValues` when its build side is dense (the Matrix
  * harness's joined-bucketed layout write). Part 1 and the dense part-2
  * aggregate `Q4112.part2Dense` (`partial_dense`, `range_dense`) probe
  * the same array with the columnar kernels `Q4112.probeAccumulate` and
  * `Q4112.probeCombine` instead, with no row pipeline.
  */
case class DenseArrayLookup(child: Expression, build: DenseBuild) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint key")
    }

  override def nullSafeEval(key: Any): Any = {
    val idx = key.asInstanceOf[Long] - build.minKey
    val arr = build.values.value
    if (idx < 0 || idx >= arr.length) null else DenseBuild.value(build.base, arr(idx.toInt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the small Broadcast handle, not the array: generated
    // code fetches the executor-local value once per task
    val bcRef = ctx.addReferenceObj("denseValues", build.values,
      classOf[Broadcast[Array[Int]]].getName)
    val arr = ctx.addMutableState("int[]", "denseArr",
      v => s"$v = (int[]) $bcRef.value();")
    // freshName, not a fixed local: with a non-nullable key nullSafeExec
    // inlines this block WITHOUT braces, so two lookups in one projection
    // would redeclare the variable and fail Janino compilation
    val idx = ctx.freshName("denseIdx")
    nullSafeCodeGen(ctx, ev, c => s"""
      long $idx = $c - ${build.minKey}L;
      if ($idx < 0 || $idx >= $arr.length) {
        ${ev.isNull} = true;
      } else {
        // DenseBuild.value, inlined
        ${ev.value} = ${build.base}L + ($arr[(int) $idx] & 0xFFFFFFFFL);
      }
    """)
  }

  override protected def withNewChildInternal(c: Expression): DenseArrayLookup =
    copy(child = c)
  override def prettyName: String = "dense_array_lookup"
}

object DenseLookup {
  /** Column wrapper: `DenseLookup(build)(keyCol)`. */
  def apply(build: DenseBuild)(key: Column): Column =
    bridge.toColumn(DenseArrayLookup(bridge.toExpression(key), build))
}
