package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.LongArrayKernel

/** Session extension (`spark.sql.extensions=graft.GraftExtensions`) —
  * the SparkSessionExtensions integration path for the engine's native
  * Catalyst pieces:
  *
  *  - `RewriteHofArrayKernel`, an optimizer rule that recognizes the
  *    engine-portable higher-order-function spellings of the dot product
  *    `aggregate(zip_with(a, b, (p, q) -> p * q), 0L, (s, t) -> s + t)`
  *    and of the squared L2 distance (the k-means / IVF / PQ inner loop)
  *    `aggregate(zip_with(a, b, (p, q) -> (p - q) * (p - q)), 0L, _+_)`
  *    and replaces them with the codegen'd [[LongArrayKernel]] primitive
  *    loop. Queries keep the declarative spelling (which the DuckDB
  *    oracle mirrors verbatim), and the optimizer — not the query
  *    author — picks the fast physical form: the Catalyst analogue of
  *    "declare the plan, let the engine choose".
  *  - `graft_dot` and `graft_sqdist`, the same expression registered as
  *    SQL-callable functions for `spark.sql(...)` users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteHofArrayKernel)
    for (op <- LongArrayKernel.ops) ext.injectFunction((
      new FunctionIdentifier(op.sqlName),
      new ExpressionInfo(classOf[LongArrayKernel].getName, op.sqlName),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"${op.sqlName}(a, b) takes two arguments")
        LongArrayKernel(args.head, args(1), op)
      }))
  }
}

/** Soundness of the rewrite: [[LongArrayKernel]] implements EXACTLY the
  * HOF semantics (ascending-index summation; NULL on null array, null
  * element, or length mismatch — zip_with null-pads the shorter side,
  * poisoning the sum), so the rule only fires on the shell
  * `ArrayAggregate(ZipWith(l, r, p, q -> m1 * m2), 0L, acc + elem,
  * identity)` over BIGINT arrays — literal 0L seed, `acc + elem` in
  * either order, identity finish — when the multiply picks an op:
  *
  *  - `Dot`: the operands are the zip lambda's own two variables (either
  *    order — multiplication commutes over the same element pair);
  *  - `SqDist`: both factors are the SAME ordered difference (p−q)·(p−q)
  *    or (q−p)·(q−p). Mixed order (p−q)·(q−p) is the NEGATED square and
  *    is deliberately not matched.
  *
  * Subtract, multiply and add must share one EvalMode, carried into the
  * expression's `failOnError` (ANSI, Spark 4's default, overflow-raises
  * via the *Exact intrinsics; LEGACY wraps; TRY is never rewritten).
  * PlanSpec asserts the rewrite firing and result equality against the
  * interpreted HOF on real vectors, and that near-miss shapes survive.
  */
object RewriteHofArrayKernel extends Rule[LogicalPlan] {
  import LongArrayKernel.{Dot, Op, SqDist}

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def sameVar(e: Expression, v: NamedExpression): Boolean = e match {
    case a: NamedLambdaVariable => a.exprId == v.exprId
    case _ => false
  }

  /** The two operands are exactly the two lambda variables, either order. */
  private def sameVars(f1: Expression, f2: Expression,
      v1: NamedExpression, v2: NamedExpression): Boolean =
    (sameVar(f1, v1) && sameVar(f2, v2)) || (sameVar(f1, v2) && sameVar(f2, v1))

  /** The op the multiply `m1 * m2` computes over the zip variables. */
  private def kernelOp(m1: Expression, m2: Expression,
      p: NamedExpression, q: NamedExpression,
      mode: EvalMode.Value): Option[Op] = (m1, m2) match {
    case _ if sameVars(m1, m2, p, q) => Some(Dot)
    case (s1 @ Subtract(a1, b1, _), s2 @ Subtract(a2: NamedLambdaVariable,
          b2: NamedLambdaVariable, _))
        if s1.evalMode == mode && s2.evalMode == mode &&
          sameVars(a1, b1, p, q) && sameVar(a1, a2) && sameVar(b1, b2) =>
      Some(SqDist)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case agg @ ArrayAggregate(
            ZipWith(l, r,
              LambdaFunction(mul @ Multiply(m1, m2, _), Seq(p, q), _)),
            Literal(zero, LongType),
            LambdaFunction(add @ Add(a1, a2, _), Seq(acc, elem), _),
            LambdaFunction(fin, Seq(finArg), _))
          if zero == 0L && isLongArray(l) && isLongArray(r) &&
            mul.evalMode == add.evalMode &&
            (mul.evalMode == EvalMode.ANSI ||
              mul.evalMode == EvalMode.LEGACY) &&
            sameVars(a1, a2, acc, elem) && sameVar(fin, finArg) =>
        kernelOp(m1, m2, p, q, mul.evalMode).fold[Expression](agg)(op =>
          LongArrayKernel(l, r, op, failOnError = mul.evalMode == EvalMode.ANSI))
    }
}
