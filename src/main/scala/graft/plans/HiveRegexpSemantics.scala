package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Literal, RLike}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.unsafe.types.UTF8String

/** Hive UDFRegExp (udf/UDFRegExp.java:58-61): an EMPTY regex pattern
  * makes `x RLIKE ''` / `x REGEXP ''` return FALSE, where Spark's RLike
  * (java.util.regex `find()` of the empty pattern) returns TRUE for every
  * non-null input (udf1.q golden: `'abc' RLIKE ''` = false).
  *
  * Rewritten only for FOLDABLE patterns (the ported-`.q`/literal case —
  * covering every reference test of the behavior) so hot-path regex
  * filters keep Spark's codegen'd RLike. A NON-literal pattern column
  * holding '' keeps Spark semantics; divergence documented here rather
  * than taxing every rlike with a per-row length guard.
  */
object HiveRegexpSemantics extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveExpressionsUp {
      case RLike(left, pat)
          if pat.foldable && pat.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
            pat.eval() == UTF8String.EMPTY_UTF8 =>
        // null input → null (both engines), else false
        org.apache.spark.sql.catalyst.expressions.If(
          org.apache.spark.sql.catalyst.expressions.IsNull(left),
          Literal(null, BooleanType), Literal(false))
    }
}
