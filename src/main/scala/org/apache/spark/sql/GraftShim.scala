package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` / `private[spark]` Spark APIs: the Column ↔
  * Expression converters, so custom Catalyst expressions
  * (graft.functions._) can be exposed as Columns, a frame over
  * already-computed rows, and a listener-bus drain. Lives in the
  * spark.sql package purely for access; no Spark internals are
  * modified. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `rows` (of `schema`) as a frame whose plan reports `sizeInBytes`,
    * so size-derived write layouts see the rows' real size instead of
    * Spark's unknown-size default */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      sizeInBytes: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(
      session, Some(Statistics(sizeInBytes)), None))
  }

  /** Blocks until every event posted so far has reached every listener
    * (or throws `TimeoutException` after `timeoutMs`), so a listener's
    * counters cover all jobs that have ended */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
