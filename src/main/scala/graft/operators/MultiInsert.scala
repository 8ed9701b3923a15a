package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoDir, InsertIntoStatement, Join,
  LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.storage.StorageLevel

/** Hive multi-insert with a SINGLE scan of the common source
  * (SURVEY.md §7.4 hard part 3; ref parse/Hive.g:1385-1419 — `FROM src
  * INSERT ... INSERT ...` — and SemanticAnalyzer.java:1385-1419, which
  * plans ONE map phase feeding N FileSinks).
  *
  * The delegate parser plans the statement as a `Union` of INSERT branches
  * that all hold the one FROM subtree by reference; run as it stands, every
  * branch re-scans that source. This executor restores the reference's
  * sharing from the plan alone:
  *
  *  1. the shared source's cache units are its FROM subqueries and base
  *     relations, found through its joins — each branch re-runs the (cheap)
  *     join over them, so per-table qualifiers in branch expressions keep
  *     resolving; any other source shape (a LATERAL VIEW, say) runs
  *     uncached;
  *  2. a unit is pruned to the columns any analyzed branch references and,
  *     when the optimizer sizes it at 32 MB or more (or cannot size it),
  *     cached MEMORY_AND_DISK: columnar, spillable, and recomputed rather
  *     than failed when an executor loses a block. Below that each branch
  *     just re-scans it — the cache fill job costs more than the re-scans
  *     it saves (measured on multi_insert.q's 500-row src) — and a source
  *     under the rule before pruning skips the branch analysis;
  *  3. every branch is re-pointed at the cached plans, under each unit's
  *     own alias, and the branches run concurrently; the caches are dropped
  *     after.
  */
object MultiInsert {

  /** Runs the branches of one multi-insert: each an `InsertIntoStatement`
    * or `InsertIntoDir` of the delegate's `Union`. */
  def run(spark: SparkSession, branches: Seq[LogicalPlan]): Unit = {
    val queries = branches.map {
      case i: InsertIntoStatement => i.query
      case d: InsertIntoDir => d.child
    }
    def holds(p: LogicalPlan, n: LogicalPlan): Boolean =
      (p eq n) || p.children.exists(holds(_, n))
    val source = queries.head.collectFirst { case n if queries.tail.forall(holds(_, n)) => n }
    val units = source.toSeq.flatMap(cacheUnits).map { u =>
      val qe = spark.sessionState.executePlan(u)
      (u, qe.analyzed, Sizing.planBytes(qe))
    }
    if (units.forall(u => Sizing.belowSpreadGate(u._3))) return runBranches(spark, branches)

    // the source columns any branch references, by name (a safe
    // over-approximation): each unit is a leaf of these probes, so nothing
    // below one counts, and `SELECT *` references every column
    val probes = queries.map(repoint(_, units.map { case (u, a, _) =>
      u -> withAlias(a, LocalRelation(a.output)) }))
    val referenced = probes.flatMap(p => spark.sessionState.executePlan(p).analyzed
      .flatMap(_.references.map(_.name.toLowerCase))).toSet

    val cacheManager = spark.sharedState.cacheManager
    val cached = Seq.newBuilder[LogicalPlan]
    try {
      val cachedUnits = units.flatMap { case (u, a, bytes) =>
        val needed = a.output.filter(c => referenced(c.name.toLowerCase))
        val pruned = Project(if (needed.isEmpty) a.output else needed, a)
        if (Sizing.belowSpreadGate(bytes) ||
            Sizing.belowSpreadGate(Sizing.planBytes(spark.sessionState.executePlan(pruned))))
          None
        else {
          // a plan already cached is reused, and stays cached after
          if (cacheManager.lookupCachedData(spark, pruned).isEmpty) {
            cacheManager.cacheQuery(spark, pruned, None, StorageLevel.MEMORY_AND_DISK)
            cached += pruned
          }
          Some(u -> withAlias(a, pruned))
        }
      }
      runBranches(spark, branches.map(repoint(_, cachedUnits)))
    } finally cached.result().foreach(cacheManager.uncacheQuery(spark, _, cascade = false))
  }

  /** The subtrees of a FROM source that can be cached on their own: the
    * base relations and FROM subqueries under its joins. */
  private def cacheUnits(source: LogicalPlan): Seq[LogicalPlan] = source match {
    case j: Join => cacheUnits(j.left) ++ cacheUnits(j.right)
    case _: UnresolvedRelation | _: SubqueryAlias => Seq(source)
    case _ => Nil
  }

  /** `plan` with each unit (matched by reference) replaced. */
  private def repoint(plan: LogicalPlan, to: Seq[(LogicalPlan, LogicalPlan)]): LogicalPlan =
    plan.transformDown(Function.unlift((n: LogicalPlan) => to.collectFirst {
      case (u, r) if u eq n => r }))

  /** `plan` under the alias of the analyzed unit it stands in for, so the
    * branches' qualified column names still resolve. */
  private def withAlias(analyzed: LogicalPlan, plan: LogicalPlan): LogicalPlan =
    analyzed match {
      case s: SubqueryAlias => SubqueryAlias(s.identifier, plan)
      case _ => plan
    }

  /** Runs each branch the way a single INSERT runs, with Hive's
    * store-assignment retry. Branch targets are verified DISTINCT before
    * the statement runs (the duplicate-output check in
    * [[graft.HiveQl.checkStatement]]), so the branches are independent jobs
    * and run concurrently, as the reference's N FileSinks fill in one job;
    * the first branch failure fails the statement.
    */
  private def runBranches(spark: SparkSession, branches: Seq[LogicalPlan]): Unit = {
    val pool = Executors.newFixedThreadPool(math.min(branches.size, 4))
    try {
      val tasks = branches.map(b => (() => graft.HiveQl.withLegacyStoreRetry(spark)(
        _.sessionState.executePlan(b).assertCommandExecuted())): Callable[Unit])
      pool.invokeAll(tasks.asJava).asScala.foreach { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}
