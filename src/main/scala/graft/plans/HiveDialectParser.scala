package graft.plans

import scala.util.Try

import graft.{Authz, HiveQl, Protect}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** A HiveQL statement planned as an eagerly-run command (a dialect form or
  * a native write/DDL, then its post-hooks) — the reference's driver-side
  * Tasks (MoveTask, StatsTask, DDLTask), in Spark's RunnableCommand shape.
  */
case class HiveStatement(statement: String, exec: SparkSession => Unit)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = { exec(spark); Nil }
}

/** A HiveQL statement form that RETURNS ROWS with a statically-known
  * schema (SHOW INDEXES / SHOW LOCKS / SHOW GRANT — the reference's
  * DDLTask writes these to a result file the fetch task reads;
  * a RunnableCommand with declared output is the Spark shape of that).
  */
case class HiveShowStatement(statement: String, rowSchema: StructType,
    rows: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(rowSchema)
  override def run(spark: SparkSession): Seq[Row] = rows(spark)
}

/** Session-parser injection of the HiveQL dialect (SparkSessionExtensions
  * `injectParser`) and the one statement path of a graft session: every
  * statement from [[graft.HiveQl.sql]], raw `spark.sql`, Thrift/JDBC or the
  * CLI is prepared ([[graft.HiveQl.prepare]]), classified, parsed by the
  * delegate, checked and dispatched here, once — the reference's layering,
  * where CliDriver and HiveServer both funnel through Driver.compile.
  * Dialect rows plan as a [[HiveShowStatement]]; dialect commands and
  * native writes/DDL as a [[HiveStatement]] that also runs the post-hooks;
  * queries and row-returning native statements as the delegate's plan.
  * Statements graft submits while running another ([[graft.HiveQl.native]])
  * and view re-parsing take only substitution and the static rewrites.
  * Fragment hooks (expressions, identifiers, schemas) delegate untouched.
  */
class HiveDialectParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private def dialect(sqlText: String): String = HiveQl.rewrite(HiveQl.resolveScriptPaths(
    session, HiveQl.resolveDefaultSampleCols(session, HiveQl.substituteVars(session, sqlText))))

  override def parsePlan(sqlText: String): LogicalPlan =
    if (HiveQl.inNative) delegate.parsePlan(dialect(sqlText))
    else statement(sqlText)

  /** One statement's prepared text, dialect rows, dialect command and
    * delegate parse (None for the two dialect kinds), each found once. */
  private def classify(rawQ: String) = {
    val q = HiveQl.prepare(session, rawQ)
    val rows = explainRows(q).orElse(HiveQl.statementRows(q))
    val command = if (rows.isDefined) None else HiveQl.statementExec(q)
    val parsed =
      if (rows.isDefined || command.isDefined) None
      else Some(Try(delegate.parsePlan(HiveQl.rewrite(q))))
    (q, rows, command, parsed)
  }

  private def statement(rawQ: String): LogicalPlan = {
    val (q, rows, command, parsed) = classify(rawQ)
    val label = q.linesIterator.mkString(" ").take(120)
    val plan = parsed.flatMap(_.toOption)
    // Driver.doAuthorization, then OFFLINE protect mode, before anything runs
    Authz.checkStatement(session, q, plan)
    Protect.checkStatement(session, q, plan)
    rows match {
      case Some((schema, rowsOf)) => HiveShowStatement(label, schema, rowsOf)
      case None =>
        HiveQl.checkStatement(session, q, plan)
        def run(body: SparkSession => Unit) =
          HiveStatement(label, HiveQl.runStatement(_, q, rawQ)(body))
        command.map(run).getOrElse {
          val p = parsed.get.get // a parse error surfaces here, after the checks
          if (HiveQl.isWrite(q)) run(HiveQl.runWrite(_, q, p)) else p
        }
    }
  }

  /** EXPLAIN over a DIALECT statement (one Spark's parser cannot see —
    * SHOW INDEXES, LOAD, EXPORT...): the reference explains every
    * statement kind (ExplainTask over the semantic analyzer's task DAG);
    * the engine surfaces the statement's dialect dispatch as the plan.
    * Spark-parseable bodies (EXPLAIN SELECT/DROP FUNCTION...) are left to
    * Spark's own ExplainCommand.
    */
  private def explainRows(q: String): Option[(StructType, SparkSession => Seq[Row])] =
    """(?is)^\s*EXPLAIN\s+(?:EXTENDED\s+|FORMATTED\s+|DEPENDENCY\s+)?([\s\S]*)$""".r
      .findFirstMatchIn(q).map(_.group(1)).filter { body =>
        try HiveQl.statementRows(body).isDefined || HiveQl.statementExec(body).isDefined
        catch { case _: Exception => false }
      }.map(body => (StructType.fromDDL("plan STRING NOT NULL"),
        _ => Seq("ABSTRACT SYNTAX TREE:", "  " + body.trim.takeWhile(_ != '\n'),
          "STAGE PLANS: dialect statement (graft statement dispatch)").map(Row(_))))

  /** A native statement's unresolved plan as [[parsePlan]] classifies and
    * parses it, unchecked (None for dialect forms and unparseable text):
    * what lock planning reads. */
  def unresolvedPlan(sqlText: String): Option[LogicalPlan] =
    classify(sqlText)._4.flatMap(_.toOption)

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(dialect(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object HiveDialectParser {
  /** The session's HiveQL parser; a session without it would silently run
    * plain Spark SQL. */
  def of(spark: SparkSession): HiveDialectParser = {
    val p = spark.sessionState.sqlParser
    require(p.isInstanceOf[HiveDialectParser], s"session parser is " +
      s"${p.getClass.getName}; build graft sessions with graft.Sessions.builder")
    p.asInstanceOf[HiveDialectParser]
  }
}
