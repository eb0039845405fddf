package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.types.DataType

/** A micro-batch clock handed to generated code by reference.
  *
  * In a streaming query Spark rewrites `current_timestamp()` (and
  * `current_date()`, `localtimestamp()`) into a `CurrentBatchTimestamp`
  * per micro-batch, and `IncrementalExecution` replaces that with the
  * batch's literal after optimization. A plain literal is inlined into
  * the Java source of its whole-stage class, so every batch produces a
  * new source, the codegen cache misses, and the stage compiles again
  * (on the driver and, waiting on the compile lock, in the tasks).
  *
  * Wrapped in `BatchClock`, the literal reaches generated code through
  * the class's `references` array instead: the source is the same in
  * every batch and compiles once for the life of the query. The value
  * is the child's, so stamps stay bit-identical. Never foldable —
  * folding would turn it back into an inlined literal; type,
  * nullability and determinism are the child's.
  */
case class BatchClock(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child match {
      case Literal(v, _) if v != null =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("batchClock", v, CodeGenerator.boxedType(dataType))
        val value =
          if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
        ev.copy(code = code"final $javaType ${ev.value} = $value;", isNull = FalseLiteral)
      // not yet replaced by the batch's literal (or a null one): the
      // child's own code
      case _ =>
        val c = child.genCode(ctx)
        ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }

  override protected def withNewChildInternal(c: Expression): BatchClock = copy(child = c)
}

/** Optimizer rule (injectOptimizerRule): wraps every
  * `CurrentBatchTimestamp` of a streaming plan in [[BatchClock]],
  * exactly once. Batch plans carry no `CURRENT_LIKE` node by the time
  * user rules run (`ComputeCurrentTime` has folded their clock), so
  * the pattern prunes them untouched. */
object BatchClockRule extends Rule[LogicalPlan] {

  private def wrap(e: Expression): Expression = e match {
    case t: CurrentBatchTimestamp => BatchClock(t)
    case c: BatchClock => c
    case other if other.containsPattern(CURRENT_LIKE) => other.mapChildren(wrap)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(CURRENT_LIKE)) {
      case p => p.mapExpressions(wrap)
    }
}
