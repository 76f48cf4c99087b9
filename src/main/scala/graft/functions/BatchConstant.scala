package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A value fixed for one plan, handed to generated code by reference.
  *
  * Structured Streaming re-plans every micro-batch and turns each
  * `current_timestamp()`/`current_date()` into a literal of the batch's
  * timestamp (`IncrementalExecution`). Generated code inlines literals,
  * so a plan that holds one generates a different class text in every
  * batch, and the codegen cache (keyed by that text) compiles it again,
  * and the JIT after it: 2 Janino compiles per batch for a stateless
  * projection over `current_timestamp()`, 0 without it.
  *
  * This expression evaluates its column-free child once per plan and
  * passes the value through `ctx.addReferenceObj`: the class reads it
  * from its `references` array, so the text, and with it the compiled
  * class, is the same in every batch. Eval and codegen return the
  * child's value; null-ness follows the child's declared nullability,
  * never the value, so the text does not depend on it either.
  *
  * It is not [[StageBarrier]]: the barrier exists to stop the optimizer
  * (non-deterministic, non-foldable, nullable by declaration) and
  * passes its child's code through, literal included. This expression
  * changes nothing the optimizer sees beyond not being foldable (a
  * folded wrapper would be the inline literal again); its determinism
  * is its child's, so a filter over it moves exactly as the bare
  * `current_timestamp()` filter did.
  */
case class BatchConstant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false

  /** The child's value, computed once per plan: planning has already
    * put the batch timestamp in place of `current_timestamp()`.
    */
  private lazy val value: Any = child.eval(InternalRow.empty)

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("batchConstant", value, CodeGenerator.boxedType(dataType))
    if (nullable)
      ev.copy(code = code"""
        boolean ${ev.isNull} = $ref == null;
        $javaType ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $ref;""")
    else
      ev.copy(code = code"$javaType ${ev.value} = $ref;", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BatchConstant =
    copy(child = newChild)
  override def prettyName: String = "batch_constant"
}

object BatchConstant {
  def apply(c: Column): Column = {
    val e = ColumnBridge.expression(c)
    require(e.references.isEmpty, s"BatchConstant needs a column-free expression, got $e")
    ColumnBridge.column(BatchConstant(e))
  }
}
