package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Catalyst extension point: native expressions the reference has that Spark
  * lacks are injected here (SURVEY.md §7.3). Populated by the functions
  * module; kept separate so every session (Verify/Bench/specs) gets the same
  * registry via [[Sessions.builder]].
  */
object GraftExtensions {
  val inject: SparkSessionExtensions => Unit = { ext =>
    functions.GraftFunctions.registrations.foreach(ext.injectFunction)
    // Hive 0.8 both-to-double string↔numeric comparison (q100; §7.4)
    ext.injectResolutionRule(_ => plans.HiveComparisonCoercion)
    // Hive UDFRegExp: empty literal pattern → false (udf1.q)
    ext.injectResolutionRule(_ => plans.HiveRegexpSemantics)
    // timestamp→tinyint/smallint/int wraps like Java (timestamp_1.q)
    ext.injectResolutionRule(_ => plans.HiveTimestampNarrowing)
    // sum over STRING is non-NULL for any non-null input (udaf_number_format.q)
    ext.injectResolutionRule(_ => plans.HiveStringSum)
    // HiveQL dialect below EVERY entry point (Driver.compile layering):
    // HiveQl.sql, raw spark.sql and Thrift/JDBC clients share one statement
    // path (text passes, dispatch, checks, post-hooks); view re-parsing
    // gets the substitution and static rewrites
    ext.injectParser((session, delegate) =>
      new plans.HiveDialectParser(session, delegate))
    // automatic index rewrite (IndexWhereProcessor posture, gated by
    // hive.optimize.index.filter — default off, like the reference)
    ext.injectOptimizerRule(session => new plans.IndexFilterRewrite(session))
    // hive.outerjoin.supports.filters=false legacy ON-filter semantics
    // (default true = ANSI; gated off like the reference's default)
    ext.injectOptimizerRule(session => new plans.HiveOuterJoinFilters(session))
  }
}
