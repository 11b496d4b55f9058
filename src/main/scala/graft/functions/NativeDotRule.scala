package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite the portable decimal-dot lambda pipeline
  *
  * {{{ CAST(aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),
  *          0 :: DECIMAL(28,12), (acc,z) -> CAST(acc + CAST(z AS DECIMAL(28,12))
  *          AS DECIMAL(28,12))) AS DOUBLE) }}}
  *
  * into the native [[DecimalDot]] kernel — value-identical by
  * construction (DecimalDot reproduces exactly that cast/sum semantics),
  * ~10× cheaper than interpreting the higher-order functions. Users keep
  * the declarative cross-engine spelling; the optimizer swaps the
  * implementation. Injected via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Guards: only float-array inputs (DecimalDot reads packed floats) and
  * only the exact DECIMAL(28,12) accumulator shape;
  * `spark.sql.optimizer.excludedRules=graft.functions.NativeDotRule`
  * turns the rewrite off per session.
  */
/** Optimizer rule: rewrite the portable exact-sum spelling
  *
  * {{{ CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) }}}
  *
  * (the `Cols.dsum`/`dsumSql` discipline every summed double in the
  * library routes through; `davg`'s numerator is the same subtree) into
  * the native [[DecimalSum128]] kernel — value-identical by
  * construction (same per-row rounding, exact 128-bit accumulation,
  * same final decimal→double conversion; see the kernel scaladoc).
  *
  * Guards: only a DOUBLE child (the cast-from-int spellings keep the
  * decimal path) and only non-DISTINCT aggregates;
  * `spark.sql.optimizer.excludedRules=graft.functions.NativeSumRule`
  * turns the rewrite off per session. The FILTER clause and the
  * aggregate's resultId are preserved — only the function inside the
  * AggregateExpression changes, so the surrounding plan (including
  * partial/final splitting) is untouched.
  */
object NativeSumRule extends Rule[LogicalPlan] {
  private val Dec = DecimalType(28, 6)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Cast(ae @ aggregate.AggregateExpression(
          aggregate.Sum(Cast(d, dt: DecimalType, _, _), _), _, false, _, _),
        DoubleType, _, _)
        if dt == Dec && d.dataType == DoubleType =>
      ae.copy(aggregateFunction = DecimalSum128(d))
  }
}

object NativeDotRule extends Rule[LogicalPlan] {
  private val Dec = DecimalType(28, 12)

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // The matched variables must be BOUND to the enclosing lambda's own
  // distinct arguments (one each, either order — the product commutes).
  // Matching any NamedLambdaVariable would also rewrite
  // `(x, y) -> x * x` (sum of squares of a alone) or a lambda closing
  // over an outer variable into DecimalDot(a, b) — a silently different
  // number. exprId equality is the binding check.
  private object ProductLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(Multiply(Cast(x: NamedLambdaVariable, DoubleType, _, _),
          Cast(y: NamedLambdaVariable, DoubleType, _, _), _),
          Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
        (x.exprId == p1.exprId && y.exprId == p2.exprId) ||
          (x.exprId == p2.exprId && y.exprId == p1.exprId)
      case _ => false
    }
  }

  private object DecimalSumLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(Cast(Add(acc: NamedLambdaVariable,
          Cast(z: NamedLambdaVariable, d1: DecimalType, _, _), _), d2: DecimalType, _, _),
          Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
        acc.dataType == Dec && d1 == Dec && d2 == Dec &&
          acc.exprId == p1.exprId && z.exprId == p2.exprId
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Cast(ArrayAggregate(
          ZipWith(a, b, ProductLambda()),
          Literal(zero: org.apache.spark.sql.types.Decimal, zt: DecimalType),
          DecimalSumLambda(),
          LambdaFunction(fin: NamedLambdaVariable,
            Seq(fp: NamedLambdaVariable), _)),
        DoubleType, _, _)
        if zt == Dec && zero.toBigDecimal.signum == 0 &&
          isFloatArray(a) && isFloatArray(b) && fin.dataType == Dec &&
          fin.exprId == fp.exprId =>
      DecimalDot(a, b)
  }
}
