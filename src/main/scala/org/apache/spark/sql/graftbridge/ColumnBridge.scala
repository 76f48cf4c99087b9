package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{StructField, StructType}

/** Bridge into the `private[sql]` Column<->Expression converters —
  * the sanctioned pattern for libraries that define custom Catalyst
  * expressions against the classic (non-Connect) API in Spark 4.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `struct(cols...) IN rows` as one literal set, for driver-local
    * tuples (each row holds the `cols` values, typed as in `types`).
    * Null-safe: a struct-typed InSet compares by the type's ordering,
    * where NULL fields are equal, so a tuple with a NULL member matches
    * its literal. The set ships inside the plan: no join, no broadcast
    * job, one probe per row however many tuples there are.
    */
  def tupleIn(cols: Seq[String], rows: Seq[Row], types: StructType): Column = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(
      StructType(cols.map(types(_))))
    column(InSet(expression(struct(cols.map(col): _*)), rows.map(toInternal).toSet))
  }

  /** `schema` as a store records it: every field nullable (file reads
    * return nullable columns) and no field metadata (a stream's
    * watermark tags vary by plan, not by what is stored).
    */
  def storeShape(schema: StructType): StructType =
    StructType(schema.fields.map(f => StructField(f.name, f.dataType.asNullable)))
}
