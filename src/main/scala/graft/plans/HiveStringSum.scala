package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, Expression, GreaterThan, If, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Hive 0.8 `sum` over STRING input (GenericUDAFSum.java:139-142): merge
  * flips the buffer's `empty` flag BEFORE the string→double parse, and
  * iterate swallows the NumberFormatException — so any non-null input row,
  * parseable or not, makes the result non-NULL, with unparseable rows
  * contributing 0. udaf_number_format.q golden: `sum('a')` over src is
  * `0.0` while `avg('a')`/`variance('a')`/`std('a')` (which count only
  * successful parses) are NULL — Spark's sum(CAST(x AS DOUBLE)) returns
  * NULL there.
  *
  * Matches ONLY the cast Spark's own type coercion inserted (no
  * `USER_SPECIFIED_CAST` tag — the [[HiveComparisonCoercion]] discipline):
  * a user-written `sum(CAST(x AS DOUBLE))` keeps Spark/Hive-agreeing NULL
  * semantics, exactly as Hive's own sum over a DOUBLE column would ignore
  * nulled casts. Rewrite:
  * `IF(count(x) > 0, coalesce(sum(cast(x AS double)), 0.0), NULL)`.
  */
object HiveStringSum extends Rule[LogicalPlan] {

  private val Rewritten = TreeNodeTag[Boolean]("graft.stringSumRewritten")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        agg.transformExpressionsUp {
          case ae @ AggregateExpression(Sum(c: Cast, _), _, false, None, _)
              if ae.getTagValue(Rewritten).isEmpty && c.child.resolved &&
                c.child.dataType == StringType && c.dataType == DoubleType &&
                c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
            ae.setTagValue(Rewritten, true)
            val nonNullRows: Expression =
              Count(Seq(c.child)).toAggregateExpression()
            If(GreaterThan(nonNullRows, Literal(0L)),
              Coalesce(Seq(ae, Literal(0.0d))),
              Literal(null, DoubleType))
        }
    }
}
