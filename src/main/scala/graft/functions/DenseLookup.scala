package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType}

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
  * travels via torrent); the probe side never moves. A 1e8-key dim is
  * an 800 MB long[] — the same order as the equivalent
  * `LongHashedRelation`, minus bucket overhead.
  *
  * Returns NULL for keys outside the domain → `.where(isNotNull)`
  * reproduces inner-join drop semantics exactly.
  *
  * Used by the plans that still need (group, v) rows after the probe:
  * `Q4112.part2Dense` (the forced dense form, and the planner's
  * `partial` and bucketed-layout plans over a dense build side), and
  * `Q4112.groupedValues` when its build side is dense (the Matrix
  * harness's joined-bucketed layout write). Part 1 and both dense
  * partial aggregates (`partial_dense`, `range_dense`) probe the same
  * array with the columnar kernels `Q4112.probeAccumulate` and
  * `Q4112.probeCombine` instead, with no row pipeline.
  */
case class DenseArrayLookup(
    child: Expression,
    values: Broadcast[Array[Long]],
    minKey: Long)
  extends UnaryExpression {

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
    val idx = key.asInstanceOf[Long] - minKey
    val arr = values.value
    if (idx < 0 || idx >= arr.length) null else arr(idx.toInt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the small Broadcast handle, not the array: generated
    // code fetches the executor-local value once per task
    val bcRef = ctx.addReferenceObj("denseValues", values,
      classOf[Broadcast[Array[Long]]].getName)
    val arr = ctx.addMutableState("long[]", "denseArr",
      v => s"$v = (long[]) $bcRef.value();")
    // freshName, not a fixed local: with a non-nullable key nullSafeExec
    // inlines this block WITHOUT braces, so two lookups in one projection
    // would redeclare the variable and fail Janino compilation
    val idx = ctx.freshName("denseIdx")
    nullSafeCodeGen(ctx, ev, c => s"""
      long $idx = $c - ${minKey}L;
      if ($idx < 0 || $idx >= $arr.length) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $arr[(int) $idx];
      }
    """)
  }

  override protected def withNewChildInternal(c: Expression): DenseArrayLookup =
    copy(child = c)
  override def prettyName: String = "dense_array_lookup"
}

object DenseLookup {
  /** Column wrapper: `denseLookup(bc, min)(keyCol)`. */
  def apply(values: Broadcast[Array[Long]], minKey: Long)(key: Column): Column =
    bridge.toColumn(DenseArrayLookup(bridge.toExpression(key), values, minKey))
}
