package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge between catalyst `Expression`s and the public `Column` API.
  *
  * Spark 4 moved `Column` to a ColumnNode representation and made the
  * Expression constructor `private[sql]`; extensions that define native
  * expressions conventionally re-export the conversion from inside the
  * `org.apache.spark.sql` package namespace.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.internalCreateDataFrame` re-exported for operators
    * that produce `InternalRow`s directly (the dense-array partial
    * aggregate) — the row-encoding round-trip `createDataFrame(Row)`
    * would impose is exactly the per-row cost those operators exist to
    * remove.
    */
  def internalDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Block until every queued listener event has been delivered, so a
    * listener read after an action sees all of that action's task,
    * stage and job events.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
