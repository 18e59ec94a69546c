package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd fold of two BIGINT arrays (SURVEY.md §7.3's
  * "promote to a Catalyst Expression on bench evidence" path): the
  * exact int64 dot product (`op = Dot`) or squared L2 distance
  * (`op = SqDist`) — the two hot inner loops of the vector family
  * (similarity ranking; k-means assignment, IVF cell probing, PQ
  * codebook training).
  *
  * The portable formulation — `aggregate(zip_with(a, b, (p, q) -> p * q
  * or (p - q) * (p - q)), 0L, _+_)` — allocates a zipped array and walks
  * interpreted higher-order lambdas per element; this expression
  * compiles to a tight primitive loop inside whole-stage codegen
  * (`doGenCode`), with an identical interpreted `nullSafeEval` fallback.
  * Both paths pick the op once per call, never per element.
  *
  * Semantics are EXACTLY the HOF spelling's (required for
  * `RewriteHofArrayKernel` to be a sound optimizer rewrite, not just a
  * convenience): summation is ascending-index; a NULL array, a NULL
  * element, or a LENGTH MISMATCH yields NULL (zip_with pads the shorter
  * side with nulls, the null term poisons the sum). `failOnError`
  * mirrors the lambdas' EvalMode: ANSI (Spark 4's default) raises on
  * int64 overflow via Math.subtractExact/multiplyExact/addExact — the
  * error class is `java.lang.ArithmeticException` rather than Spark's
  * wrapper, but the query fails loudly exactly when the HOF would —
  * while LEGACY wraps like Java arithmetic.
  *
  * The expression prints as its SQL function name (`graft_dot` /
  * `graft_sqdist`), so a plan shows which op the rewrite chose.
  */
case class LongArrayKernel(left: Expression, right: Expression,
    op: LongArrayKernel.Op, failOnError: Boolean = false)
    extends BinaryExpression with ExpectsInputTypes {
  import LongArrayKernel._

  // declared as Seq[DataType] (covariant with the private[sql]
  // AbstractDataType the trait names)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  // null also on element-null / length-mismatch, not just null inputs
  override def nullable: Boolean = true

  override def prettyName: String = op.sqlName

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val sq = op == SqDist
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val p = x.getLong(i)
      val q = y.getLong(i)
      if (failOnError) {
        val t =
          if (sq) { val d = Math.subtractExact(p, q); Math.multiplyExact(d, d) }
          else Math.multiplyExact(p, q)
        acc = Math.addExact(acc, t)
      } else acc += (if (sq) (p - q) * (p - q) else p * q)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val step = op match {
        case Dot if failOnError =>
          s"${ev.value} = java.lang.Math.addExact(${ev.value}, " +
            s"java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));"
        case Dot => s"${ev.value} += $a.getLong($i) * $b.getLong($i);"
        case SqDist =>
          val dv = ctx.freshName("d")
          if (failOnError)
            s"""long $dv = java.lang.Math.subtractExact($a.getLong($i), $b.getLong($i));
               |${ev.value} = java.lang.Math.addExact(${ev.value},
               |  java.lang.Math.multiplyExact($dv, $dv));""".stripMargin
          else
            s"""long $dv = $a.getLong($i) - $b.getLong($i);
               |${ev.value} += $dv * $dv;""".stripMargin
      }
      s"""
         |int $n = $a.numElements();
         |${ev.value} = 0L;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $step
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayKernel =
    copy(left = newLeft, right = newRight)
}

object LongArrayKernel {
  /** The per-element term, named by the SQL function that exposes it. */
  sealed abstract class Op(val sqlName: String)
  case object Dot extends Op("graft_dot")
  case object SqDist extends Op("graft_sqdist")
  val ops: Seq[Op] = Seq(Dot, SqDist)

  def of(op: Op)(a: Column, b: Column): Column =
    Bridge.column(LongArrayKernel(Bridge.expression(a), Bridge.expression(b), op))
}
