package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the package-private Column <-> Expression converters
  * (Spark 4 wraps Column around ColumnNode; the classic converters are
  * `private[sql]`). Lives in the org.apache.spark.sql namespace the
  * same way other Spark-native libraries expose Dataset/Expression
  * internals (cf. public extension libs building custom expressions).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over an RDD of catalyst rows laid out as `schema`, read
    * as they are (no round trip through `Row`). */
  def internalRowsFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The literal value of a `lit(...)` column, if it is one. Spark 4's
    * Column wraps a ColumnNode; a literal arrives as either the node
    * form or (post-conversion) a catalyst Literal — handle both. */
  def literalValue(c: Column): Option[Any] = c.node match {
    case l: org.apache.spark.sql.internal.Literal => Some(l.value)
    case _ => expression(c) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => Some(v)
      case _ => None
    }
  }
}

/** `AbstractDataType` (the `inputTypes` element type of
  * ExpectsInputTypes) is `private[sql]`; this public alias lets graft's
  * expressions declare input types for proper analysis-time errors. */
object GraftTypes {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
