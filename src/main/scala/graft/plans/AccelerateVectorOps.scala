package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.expressions.NativeKernels

/** Optimizer rule: rewrite the declarative dot-product composition
  * (`aggregate(zip_with(a, b, (x, y) => x·y as double), 0.0, _+_)` — the
  * shape VectorFunctions.dot builds, and the shape a user following the
  * higher-order-function idiom writes) into the native
  * [[graft.expressions.NativeKernels.dotF]] kernel, built by that same
  * function.
  *
  * Why a rule and not just the kernel API: the HOF form evaluates its
  * lambdas interpreted (~128 expression-tree walks per 64-dim pair; see
  * NativeKernels). With this rule injected (GraftExtensions), code written
  * against the portable declarative API silently gets the one-loop kernel —
  * the user-facing surface stays declarative, the plan gets fast. The
  * match is exact (both lambdas, the zero literal, the identity finish,
  * float-array inputs), so anything semantically different is left alone.
  * AccelerateVectorOpsSpec asserts both the rewrite and result equality.
  *
  * Safety on malformed inputs (ADVICE r2, medium): the rewrite is valid for
  * ALL float-array inputs — including unequal lengths and null elements —
  * because the dotF kernel reproduces the HOF composition's null semantics
  * exactly: zip_with null-pads the shorter array and a null product poisons
  * the fold to NULL, and the kernel returns NULL in exactly those cases
  * (length mismatch or any null element). No nullability guard is needed,
  * so parquet-sourced arrays (element containsNull=true in the file schema)
  * still get the accelerated path. AccelerateVectorOpsSpec covers both
  * degenerate shapes.
  *
  * The walk is pruned to plans holding a higher-order function (the
  * `HIGH_ORDER_FUNCTION` tree pattern), so the optimizer's and AQE's
  * re-optimization runs skip every other plan without visiting its
  * expressions.
  */
object AccelerateVectorOps extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(
                Multiply(
                  Cast(x1: NamedLambdaVariable, DoubleType, _, _),
                  Cast(y1: NamedLambdaVariable, DoubleType, _, _), _),
                Seq(ax: NamedLambdaVariable, ay: NamedLambdaVariable), false)),
            DoubleLiteral(0.0),
            LambdaFunction(
              Add(m1: NamedLambdaVariable, m2: NamedLambdaVariable, _),
              Seq(bx: NamedLambdaVariable, by: NamedLambdaVariable), false),
            LambdaFunction(f1: NamedLambdaVariable, Seq(fx: NamedLambdaVariable), false))
          if isFloatArray(a) && isFloatArray(b) &&
            x1.exprId == ax.exprId && y1.exprId == ay.exprId &&
            m1.exprId == bx.exprId && m2.exprId == by.exprId &&
            f1.exprId == fx.exprId =>
        ColumnBridge.expression(
          NativeKernels.dotF(ColumnBridge.column(a), ColumnBridge.column(b)))
    }
}
