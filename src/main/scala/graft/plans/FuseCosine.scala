package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.CosineSimilarity

/** Optimizer rule: rewrite the composable higher-order-function cosine —
  *
  *   aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0d,
  *             (acc, v) -> acc + v)
  *   / (sqrt(aggregate(zip_with(a, a, ...), ...))
  *      * sqrt(aggregate(zip_with(b, b, ...), ...)))
  *
  * — into the fused native kernel [[graft.functions.CosineSimilarity]]
  * whenever both operands are `array<float>` columns. Users write the
  * declarative HOF formulation (three sequential folds, the form a SQL
  * author reaches for first); the optimizer swaps in the one-loop codegen
  * kernel, which is BIT-IDENTICAL by the kernel's numeric contract
  * (double accumulation in index order — the exact operation sequence of
  * the three folds — and common-prefix semantics matching zip_with's
  * shorter-array truncation, NaN on zero norms matching 0/0). That
  * contract is what makes this rewrite safe: plans keep their oracle
  * hashes, only the evaluation strategy changes.
  *
  * Guards: the multiply/add lambdas must be exactly the dot-product shape
  * (checked variable-by-variable against the lambda's bound arguments),
  * the zero must be literal 0.0, the finish lambda must be identity, the
  * norm aggregates must run over the SAME child expressions as the dot
  * (semantic equality), and the element type must be FLOAT (the kernel
  * reads floats; a double-array cosine is left untouched). Disabled by
  * setting `spark.graft.fuse_cosine=false` (any case); every other value,
  * a malformed one included, leaves the rule on rather than failing the
  * optimizer and with it every query of the session.
  */
object FuseCosine extends Rule[LogicalPlan] {

  private val ConfKey = "spark.graft.fuse_cosine"

  private def isZeroD(e: Expression): Boolean = e match {
    case Literal(v: Double, DoubleType) => v == 0.0
    case Cast(Literal(v, _), DoubleType, _, _) => v == 0
    case _ => false
  }

  private def sameVar(e: Expression, v: NamedExpression): Boolean = (e, v) match {
    case (x: NamedLambdaVariable, y: NamedLambdaVariable) => x.exprId == y.exprId
    case _ => false
  }

  private def sameVarCastD(e: Expression, v: NamedExpression): Boolean = e match {
    case Cast(x, DoubleType, _, _) => sameVar(x, v)
    case _ => sameVar(e, v)
  }

  /** Matches the sequential-fold dot product and returns its operands. */
  private def asDot(e: Expression): Option[(Expression, Expression)] = e match {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(mx, my, _), Seq(x, y), _)),
          zero,
          LambdaFunction(Add(aAcc, aV, _), Seq(acc, v), _),
          LambdaFunction(fin, Seq(fv), _))
        if isZeroD(zero) && sameVarCastD(mx, x) && sameVarCastD(my, y) &&
          sameVar(aAcc, acc) && sameVar(aV, v) && sameVar(fin, fv) =>
      Some((a, b))
    case _ => None
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(ConfKey, "true").equalsIgnoreCase("false")) plan
    else plan.transformAllExpressions {
      case d @ Divide(dab, Multiply(Sqrt(daa), Sqrt(dbb), _), _) =>
        (asDot(dab), asDot(daa), asDot(dbb)) match {
          case (Some((a, b)), Some((a1, a2)), Some((b1, b2)))
              if a.semanticEquals(a1) && a.semanticEquals(a2) &&
                b.semanticEquals(b1) && b.semanticEquals(b2) &&
                isFloatArray(a) && isFloatArray(b) =>
            CosineSimilarity(a, b)
          case _ => d
        }
    }
}
