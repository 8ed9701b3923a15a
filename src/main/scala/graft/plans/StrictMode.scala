package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
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

  def check(spark: SparkSession, plan: LogicalPlan): Unit = {
    if (!spark.conf.getOption("hive.mapred.mode").contains("strict")) return
    checkCartesian(plan)
    checkOrderByLimit(plan)
    checkPartitionPredicate(spark, plan)
    plan.foreach(_.subqueries.foreach { sq =>
      checkCartesian(sq); checkOrderByLimit(sq)
      checkPartitionPredicate(spark, sq)
    })
  }

  private def checkCartesian(plan: LogicalPlan): Unit = plan.foreach {
    case j: Join if j.condition.isEmpty &&
        (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
         j.joinType == org.apache.spark.sql.catalyst.plans.Cross) =>
      throw new IllegalArgumentException(
        "In strict mode, cartesian product is not allowed. If you really " +
          "want to perform the operation, set hive.mapred.mode=nonstrict")
    case _ =>
  }

  /** ORDER BY (a global Sort) requires a LIMIT somewhere above it. */
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

  /** A partitioned catalog table must be filtered on at least one of its
    * partition columns (SemanticAnalyzer's NO_PARTITION_PREDICATE check —
    * name-level approximation: any filter/join condition referencing a
    * partition column counts, matching the reference's PcrExprProc walk).
    */
  private def checkPartitionPredicate(spark: SparkSession, plan: LogicalPlan): Unit = {
    val filterAttrs = scala.collection.mutable.Set.empty[String]
    plan.foreach {
      case f: Filter => f.condition.foreach {
        case a: UnresolvedAttribute => filterAttrs += a.nameParts.last.toLowerCase
        case _ =>
      }
      case j: Join => j.condition.toSeq.foreach(_.foreach {
        case a: UnresolvedAttribute => filterAttrs += a.nameParts.last.toLowerCase
        case _ =>
      })
      case _ =>
    }
    // write targets are exempt: strict pruning guards READS only — the
    // reference legally runs `INSERT OVERWRITE TABLE t PARTITION (ds=..)
    // SELECT ..` in strict mode (input39.q); identity-based so the same
    // table read elsewhere in the statement is still checked
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case i: InsertIntoStatement => writeTargets.add(i.table)
      case _ =>
    }
    plan.foreach {
      case u: UnresolvedRelation if !writeTargets.contains(u) =>
        val name = u.multipartIdentifier.last
        val meta = try Some(spark.sessionState.catalog.getTableMetadata(
          TableIdentifier(name, u.multipartIdentifier.dropRight(1).lastOption)))
        catch { case _: Exception => None }
        meta.filter(_.partitionColumnNames.nonEmpty).foreach { m =>
          if (!m.partitionColumnNames.exists(c => filterAttrs(c.toLowerCase)))
            throw new IllegalArgumentException(
              s"""No partition predicate found for Alias "$name" Table "$name"""")
        }
      case _ =>
    }
  }
}
