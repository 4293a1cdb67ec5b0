package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between raw Catalyst [[Expression]]s and the public [[Column]] API
  * (Spark 4 wraps Columns in ColumnNodes; the converters are private[sql],
  * so this shim lives under org.apache.spark.sql). Used to register graft's
  * native codegen expressions without a SessionExtensions hook — the driver
  * hands us an already-built SparkSession. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Distributed bloom-filter build as an aggregate column (binary output,
    * `org.apache.spark.util.sketch.BloomFilter` wire format). Partial
    * aggregation applies map-side, so per-bucket filters build in one
    * shuffle of pre-merged sketches — the same machinery Catalyst's runtime
    * join filters use (BloomFilterAggregate). */
  def bloomAgg(child: Column, expectedItems: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(child), expectedItems).toAggregateExpression())

  /** `s` with every field, element and map value nullable — the schema a
    * file-source read reports (`asNullable` is private[spark]). */
  def nullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
