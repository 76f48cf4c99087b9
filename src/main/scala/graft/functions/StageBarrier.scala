package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The one optimizer barrier: evaluates to exactly its child (eval and
  * generated code are pass-through, whole-stage-codegen friendly) but
  * declares itself NON-DETERMINISTIC, NON-FOLDABLE and NULLABLE, so no
  * optimizer rule can substitute, fold or statically evaluate what is
  * built over it. It defeats three rule families:
  *
  *  - alias re-inlining: `PushPredicateThroughNonJoin` pushes a filter
  *    below a Project by substituting the Project's deterministic
  *    aliases into the condition, cost-blind, and `CollapseProject`
  *    duplicates them into every referencing expression. A filter over
  *    a staged expensive column (a hashed-ngram score, a tokenization,
  *    a winnow fold) then re-evaluates the whole producing tree at each
  *    reference, per row, interpreted (HOF lambdas get no codegen CSE).
  *    Measured on c2_curation_pipeline: the pushed quota filter carried
  *    four copies of the score-aggregate tree and ~15 of the langId
  *    tokenize (plans/r17/c2_curation_pipeline_after.txt Filter(2);
  *    warm 1.35 s against ~0.4 s staged). Staging through the barrier
  *    pins each tree to one evaluation per row (c2, the shingle,
  *    window and winnow stages in Dedup, CurationStream; PlanSpec
  *    counts the c2 and d22 trees).
  *  - `FoldablePropagation` + `ConstantFolding`: a literal heartbeat
  *    stamp (graft.streaming.Heartbeats) would otherwise fold the
  *    strip predicate `!hb OR isnull(event_time)` to a reference-free
  *    `false` once a heartbeat-only micro-batch prunes the union to the
  *    heartbeat branch; the predicate then pushes below the watermark
  *    collector and every heartbeat dies (MultiWatermarkSpec's
  *    literal-stamp rollup case).
  *  - `NullPropagation`'s `isnull(non-nullable) → false`: the same end
  *    state for ANY stamp built from the rate source's non-nullable
  *    columns; a nullable declaration cannot be rewritten. Declaring
  *    nullability the child lacks costs one generated null flag (and
  *    a nullable parquet column, which parquet output is anyway).
  *
  * USAGE CONTRACT: put the barrier in a Project or Filter only.
  * `CheckAnalysis` rejects a non-deterministic expression in a join
  * condition, a sort key or an aggregate function, and the error
  * surfaces at the caller, far from here. The flag only FORFEITS
  * optimizations (pushdown past the stage, folding, CSE), it never
  * licenses a wrong plan; still, it is not a general hint. Each use
  * must argue why it is load-bearing: the guarded tree is expensive
  * enough that one blocked pushdown is the cheaper side of the trade,
  * or a predicate must keep its column reference.
  */
case class StageBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression): StageBarrier =
    copy(child = newChild)
  override def prettyName: String = "stage_barrier"
}

object StageBarrier {
  def apply(c: Column): Column = ColumnBridge.column(StageBarrier(ColumnBridge.expression(c)))
}
