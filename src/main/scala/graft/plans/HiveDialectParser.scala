package graft.plans

import scala.collection.mutable
import scala.util.Try

import graft.{Authz, HiveQl, Protect}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoDir, InsertIntoStatement, LogicalPlan,
  UnresolvedWith}
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

/** What one statement reads and writes, found once from its unresolved
  * plan — the reference's ReadEntity/WriteEntity sets, which
  * Driver.doAuthorization, acquireReadWriteLocks and the exec hooks all
  * read: its query blocks, every INSERT target in statement order and
  * every INSERT OVERWRITE DIRECTORY path. */
final case class StatementRefs(blocks: Seq[StatementRefs.Block],
    writes: Seq[StatementRefs.Write], dirs: Seq[String]) {
  /** The distinct tables read. */
  lazy val reads: Seq[TableIdentifier] = blocks.flatMap(_.reads).distinct
  /** The distinct tables written. */
  def writeTables: Seq[TableIdentifier] = writes.map(_.table).distinct
}

object StatementRefs {
  /** An INSERT target and its PARTITION spec (a None value is a dynamic
    * column; an empty map, no PARTITION clause). */
  final case class Write(table: TableIdentifier, spec: Map[String, Option[String]])

  /** One query block: the statement's plan, or a subquery expression's,
    * with the CTE bodies defined in it (a CTE is a named FROM subquery),
    * as every plan node it holds and the tables those nodes read. */
  final case class Block(nodes: Seq[LogicalPlan], reads: Seq[TableIdentifier])

  /** CTE names are scoped: a WITH's names are visible in its main query,
    * each definition sees only the earlier ones (and itself under
    * RECURSIVE), and a subquery sees the names of its enclosing scope. A
    * one-part name in scope is the CTE; every other relation is a table
    * read. */
  def of(plan: LogicalPlan): StatementRefs = {
    val blocks = Seq.newBuilder[Block]
    val writes = Seq.newBuilder[Write]
    val dirs = Seq.newBuilder[String]
    def table(u: UnresolvedRelation) =
      TableIdentifier(u.multipartIdentifier.last, u.multipartIdentifier.init.lastOption)
    def block(root: LogicalPlan, outer: Set[String]): Unit = {
      val nodes = Seq.newBuilder[LogicalPlan]
      val reads = mutable.LinkedHashSet.empty[TableIdentifier]
      val subqueries = mutable.ArrayBuffer.empty[(LogicalPlan, Set[String])]
      def visit(p: LogicalPlan, ctes: Set[String]): Unit = {
        nodes += p
        // subquery expressions hold plans outside `children`
        subqueries ++= p.subqueries.map(_ -> ctes)
        p match {
          case w: UnresolvedWith =>
            val names = w.cteRelations.map(_._1.toLowerCase)
            w.cteRelations.zipWithIndex.foreach { case ((_, body, _), i) =>
              visit(body, ctes ++ names.take(if (w.allowRecursion) i + 1 else i)) }
            visit(w.child, ctes ++ names)
          case u: UnresolvedRelation =>
            val parts = u.multipartIdentifier
            if (parts.size > 1 || !ctes(parts.head.toLowerCase)) reads += table(u)
          case i: InsertIntoStatement =>
            writes ++= i.table.collect {
              case u: UnresolvedRelation => Write(table(u), i.partitionSpec) }
            visit(i.query, ctes)
          case d: InsertIntoDir =>
            dirs ++= d.storage.locationUri.map(_.toString)
            visit(d.child, ctes)
          case _ => p.children.foreach(visit(_, ctes))
        }
      }
      visit(root, outer)
      blocks += Block(nodes.result(), reads.toSeq)
      subqueries.foreach { case (sq, ctes) => block(sq, ctes) }
    }
    block(plan, Set.empty)
    StatementRefs(blocks.result(), writes.result(), dirs.result())
  }
}

/** Session-parser injection of the HiveQL dialect (SparkSessionExtensions
  * `injectParser`) and the one statement path of a graft session: every
  * statement from [[graft.HiveQl.sql]], raw `spark.sql`, Thrift/JDBC or the
  * CLI is prepared ([[graft.HiveQl.prepare]]), classified, parsed by the
  * delegate, checked and dispatched here, once — the reference's layering,
  * where CliDriver and HiveServer both funnel through Driver.compile.
  * The parse's [[StatementRefs]] is the one source of what the statement
  * reads and writes: authorization, protect mode, strict mode, the
  * access-time hook, HOLD_DDLTIME, the duplicate-output and lock-conflict
  * checks, implicit locks and the INSERT post-hooks all read it.
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

  /** One statement's prepared text, dialect rows, dialect command,
    * delegate parse (None for the two dialect kinds) and the reads and
    * writes of that parse, each found once. */
  private def classify(rawQ: String) = {
    val q = HiveQl.prepare(session, rawQ)
    val rows = explainRows(q).orElse(HiveQl.statementRows(q))
    val command = if (rows.isDefined) None else HiveQl.statementExec(q)
    val parsed =
      if (rows.isDefined || command.isDefined) None
      else Some(Try(delegate.parsePlan(HiveQl.rewrite(q))))
    val refs = parsed.flatMap(_.toOption).fold(StatementRefs(Nil, Nil, Nil))(StatementRefs.of)
    (q, rows, command, parsed, refs)
  }

  private def statement(rawQ: String): LogicalPlan = {
    val (q, rows, command, parsed, refs) = classify(rawQ)
    val label = q.linesIterator.mkString(" ").take(120)
    // Driver.doAuthorization, then OFFLINE protect mode, before anything runs
    Authz.checkStatement(session, q, refs)
    Protect.checkStatement(session, q, refs)
    rows match {
      case Some((schema, rowsOf)) => HiveShowStatement(label, schema, rowsOf)
      case None =>
        HiveQl.checkStatement(session, q, refs)
        def run(body: SparkSession => Unit) =
          HiveStatement(label, HiveQl.runStatement(_, q, rawQ, refs)(body))
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

  /** A statement's reads and writes as [[parsePlan]] classifies and parses
    * it, unchecked (empty for dialect forms and unparseable text): what
    * lock planning reads. */
  def refs(sqlText: String): StatementRefs = classify(sqlText)._5

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
