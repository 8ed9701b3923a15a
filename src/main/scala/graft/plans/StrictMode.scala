package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical._

/** `hive.mapred.mode=strict` (SemanticAnalyzer's three strict-mode guards —
  * clientnegative strict_join.q / strict_orderby.q / strict_pruning.q).
  * These are the reference's scale-safety rails and they matter MORE on a
  * 100 TB cluster than they did on MR: an accidental cartesian or a
  * full-partition scan is a cluster-day, so the engine honors the conf
  * with the reference's own error phrasings.
  *
  * Checks run over the statement's UNRESOLVED plan — names are enough
  * for all three rules, matching Driver-time semantic analysis (no
  * execution cost when the conf is off).
  */
object StrictMode {

  /** Each rule runs per query block of the statement's parse. */
  def check(spark: SparkSession, refs: StatementRefs): Unit =
    if (spark.conf.getOption("hive.mapred.mode").contains("strict")) refs.blocks.foreach { b =>
      b.nodes.foreach(checkCartesian)
      checkOrderByLimit(b.nodes.head)
      checkPartitionPredicate(spark, b)
    }

  private def checkCartesian(node: LogicalPlan): Unit = node match {
    case j: Join if j.condition.isEmpty &&
        (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
         j.joinType == org.apache.spark.sql.catalyst.plans.Cross) =>
      throw new IllegalArgumentException(
        "In strict mode, cartesian product is not allowed. If you really " +
          "want to perform the operation, set hive.mapred.mode=nonstrict")
    case _ =>
  }

  /** ORDER BY (a global Sort) requires a LIMIT somewhere above it, in the
    * block's main query (CTE bodies are not walked). */
  private def checkOrderByLimit(plan: LogicalPlan): Unit = {
    def walk(p: LogicalPlan, limited: Boolean): Unit = p match {
      case l: GlobalLimit => l.children.foreach(walk(_, limited = true))
      case l: LocalLimit => l.children.foreach(walk(_, limited = true))
      case s: Sort if s.global && !limited =>
        throw new IllegalArgumentException(
          "In strict mode, if ORDER BY is specified, LIMIT must also be " +
            "specified. Error encountered near ORDER BY")
      // a subquery boundary resets nothing — Hive flags the outermost
      // unlimited ORDER BY; nested sorts under a limited outer block are
      // still each checked with their own scope
      case other => other.children.foreach(walk(_, limited))
    }
    walk(plan, limited = false)
  }

  /** A partitioned table a query block reads must be filtered in that
    * block on at least one of its partition columns (SemanticAnalyzer's
    * NO_PARTITION_PREDICATE check — name-level approximation: any
    * filter/join condition referencing a partition column counts, matching
    * the reference's PcrExprProc walk). Write targets are not reads: the
    * reference runs `INSERT OVERWRITE TABLE t PARTITION (ds=..) SELECT ..`
    * in strict mode (input39.q).
    */
  private def checkPartitionPredicate(spark: SparkSession, block: StatementRefs.Block): Unit = {
    val filterAttrs = block.nodes.flatMap {
      case f: Filter => Seq(f.condition)
      case j: Join => j.condition.toSeq
      case _ => Nil
    }.flatMap(_.collect { case a: UnresolvedAttribute => a.nameParts.last.toLowerCase }).toSet
    block.reads.foreach { ti =>
      val meta = try Some(spark.sessionState.catalog.getTableMetadata(ti))
      catch { case _: Exception => None }
      meta.filter(_.partitionColumnNames.nonEmpty).foreach { m =>
        if (!m.partitionColumnNames.exists(c => filterAttrs(c.toLowerCase)))
          throw new IllegalArgumentException(
            s"""No partition predicate found for Alias "${ti.table}" Table "${ti.table}"""")
      }
    }
  }
}
