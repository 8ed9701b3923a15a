package graft.operators

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Hive multi-insert with a SINGLE scan of the common source
  * (SURVEY.md §7.4 hard part 3; ref parse/Hive.g:1385-1419 — `FROM src
  * INSERT ... INSERT ...` — and SemanticAnalyzer.java:1385-1419, which
  * plans ONE map phase feeding N FileSinks).
  *
  * Spark parses the statement form natively but executes each INSERT as an
  * independent scan of the source — at 100 TB an N-way multi-insert re-reads
  * the input N times. This executor restores the reference's sharing:
  *
  *  1. resolve the common FROM source once;
  *  2. prune it to the UNION of columns any branch references (resolved from
  *     each branch's analyzed probe plan, so the cache never stores columns
  *     no branch reads — name-intersection over-approximates safely);
  *  3. persist the pruned source MEMORY_AND_DISK (columnar, spillable) and
  *     re-point every branch at the cached view;
  *  4. execute the branches, then unpersist.
  *
  * Scale posture: the cache holds only branch-referenced columns of the
  * already-filtered FROM subplan — the Hive idiom puts the shared filter in
  * the FROM subquery, so this is the reference's shared map-phase output,
  * not the raw table. When the source is a bare 100 TB table and branches
  * are cheap disjoint filters, recompute can beat cache-write cost: set
  * `spark.graft.multiInsert.materialize=none` to keep per-branch scans
  * (Catalyst still prunes columns per branch).
  *
  * Join-shaped sources (the reference shares the map phase for ANY common
  * source shape, SemanticAnalyzer.java:1385-1419) are shared PER TABLE:
  * collapsing the joined result behind one view would break per-table
  * qualifiers in branch expressions (and duplicate column names), so each
  * base table of the join is pruned + materialized once and the join text
  * is re-pointed at the cached relations with its aliases intact — every
  * branch re-runs the (cheap) join over cached columnar blocks, and each
  * underlying file is scanned exactly once. persist(MEMORY_AND_DISK) over
  * localCheckpoint: spillable, columnar, and resilient to executor loss
  * (a lost localCheckpoint block fails the job; a lost cache block
  * recomputes). Join shapes the tokenizer can't prove (subquery join
  * sides, LATERAL) still fall back to native per-branch execution.
  */
object MultiInsert {

  /** Observability/test seam for the last run on this JVM: branch probe
    * plans (same SELECT shape the INSERTs wrote) + what was cached.
    */
  final case class Report(viewName: String, cachedColumns: Seq[String],
      materialized: Boolean, branchSql: Seq[String],
      branchProbes: Seq[DataFrame])
  @volatile var lastReport: Option[Report] = None

  // FROM <source> INSERT ... — source may be `tbl`, `db.tbl alias`, or
  // `(subquery) alias`; joins deliberately do not match (native fallback)
  private val SimpleSrc = """(?s)^\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$""".r
  private val SubquerySrc = """(?s)^\s*(\(.*\))\s+(?:AS\s+)?(\w+)\s*$""".r
  private val BranchHead =
    """(?is)^INSERT\s+(OVERWRITE|INTO)\s+(?:TABLE\s+)?([\w.]+)\s*(PARTITION\s*\([^)]*\)\s*)?(SELECT\s.*)$""".r
  private val TailKw = """(?i)\b(WHERE|GROUP|ORDER|SORT|DISTRIBUTE|CLUSTER|HAVING|LIMIT)\b""".r

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  /** Matches a full multi-insert statement (>= 2 INSERT branches). */
  def matches(q: String): Boolean = splitStatement(q).exists(_._2.size >= 2)

  /** `FROM <src> INSERT ...INSERT ...` → (srcText, branchTexts). Literals
    * are masked before the keyword/paren scan (the HiveQl.rewrite
    * discipline) so an INSERT keyword or unbalanced paren INSIDE a string
    * can neither hide a real branch boundary nor invent one.
    */
  private def splitStatement(q: String): Option[(String, Seq[String])] = {
    val t = q.trim.stripSuffix(";")
    if (!t.toUpperCase.startsWith("FROM")) return None
    val (masked, lits) =
      try graft.HiveQl.maskLiterals(t)
      catch { case _: IllegalArgumentException => return None }
    // split on top-level INSERT keywords (outside parens; literals are
    // placeholders here, so parity counting is exact)
    val ins = "(?i)\\bINSERT\\b".r.findAllMatchIn(masked).map(_.start).filter { i =>
      val prefix = masked.substring(0, i)
      prefix.count(_ == '(') == prefix.count(_ == ')')
    }.toSeq
    if (ins.size < 2) return None
    val src = graft.HiveQl.unmaskLiterals(masked.substring(4, ins.head), lits).trim
    val branches = ins.zip(ins.tail :+ masked.length).map { case (a, b) =>
      graft.HiveQl.unmaskLiterals(masked.substring(a, b), lits).trim }
    Some((src, branches))
  }

  // join-source tokenizer: keywords that delimit table-reference positions
  private val JoinKw =
    """(?i)\b(JOIN|INNER|LEFT|RIGHT|FULL|OUTER|CROSS|NATURAL|SEMI|ANTI|ON|USING|LATERAL)\b""".r

  /** One parsed piece of a join-shaped FROM: either a base-table reference
    * (rewritable to a cached view) or passthrough text (keywords, ON
    * conditions).
    */
  private sealed trait FromPiece
  private case class TableRef(table: String, alias: String) extends FromPiece
  private case class Passthrough(text: String) extends FromPiece

  /** Tokenize a join-shaped FROM at paren depth 0. Table references sit at
    * the start and after each JOIN (or depth-0 comma); ON/USING conditions
    * pass through verbatim. Returns None for shapes this parse can't PROVE
    * (subquery join sides, LATERAL) — the caller falls back to native
    * execution rather than risk a silent mis-rewrite (the HiveQl.rewrite
    * discipline).
    */
  private def parseJoinSource(srcText: String): Option[Seq[FromPiece]] = {
    // mask literals BEFORE tokenizing (the HiveQl.rewrite discipline): a
    // paren or join keyword inside an ON-condition string — `ON a.s =
    // '(x JOIN'` — must not corrupt depth-0 tracking or keyword splitting.
    // Unterminated literals → native fallback rather than a mis-rewrite.
    val (masked, lits) =
      try graft.HiveQl.maskLiterals(srcText)
      catch { case _: IllegalArgumentException => return None }
    val depthAt: Int => Int = {
      val d = new Array[Int](masked.length + 1)
      var i = 0
      while (i < masked.length) {
        d(i + 1) = d(i) + (masked.charAt(i) match {
          case '(' => 1; case ')' => -1; case _ => 0 })
        i += 1
      }
      d
    }
    val kws = JoinKw.findAllMatchIn(masked).filter(m => depthAt(m.start) == 0).toSeq
    if (!kws.exists(_.group(1).equalsIgnoreCase("JOIN"))) return None
    if (kws.exists(k => Set("LATERAL", "NATURAL").contains(k.group(1).toUpperCase)))
      return None
    val pieces = Seq.newBuilder[FromPiece]
    var expectTable = true
    var pos = 0
    val bounds = kws.map(k => (k.start, k.end, k.group(1).toUpperCase)) :+
      ((masked.length, masked.length, ""))
    var inCond = false
    for ((s, e, kw) <- bounds) {
      val seg = graft.HiveQl.unmaskLiterals(masked.substring(pos, s), lits)
      if (expectTable && seg.trim.nonEmpty) {
        // depth-0 commas separate additional table refs (implicit cross
        // join); empty segments (between LEFT and JOIN, say) just skip
        val parts = seg.split(",", -1)
        if (parts.exists(_.trim.isEmpty)) return None
        parts.zipWithIndex.foreach { case (p, i) =>
          if (i > 0) pieces += Passthrough(", ")
          p.trim match {
            case SimpleSrc(tbl, a) =>
              pieces += TableRef(tbl, Option(a).getOrElse(tbl.split('.').last))
            case _ => return None // subquery or unrecognized join side
          }
        }
      } else pieces += Passthrough(seg)
      if (kw.nonEmpty) pieces += Passthrough(" " + kw + " ")
      expectTable = kw match {
        case "JOIN" => true
        case "ON" | "USING" => { inCond = true; false }
        case "" => false
        case _ => !inCond // LEFT/RIGHT/... between cond and next JOIN
      }
      if (kw == "JOIN") inCond = false
      pos = e
    }
    Some(pieces.result())
  }

  /** Execute a multi-insert with one source scan; returns true if this
    * executor handled it (false → caller should fall back to native).
    */
  def run(spark: SparkSession, q: String): Boolean = {
    val (srcText, branches) = splitStatement(q).getOrElse(return false)
    val parsed = branches.map {
      case BranchHead(mode, target, part, select) =>
        (mode.toUpperCase, target, Option(part).getOrElse(""), select)
      case _ => return false // non-SELECT branch form: native fallback
    }
    val alias = srcText match {
      case SimpleSrc(tbl, a) => Option(a).getOrElse(tbl.split('.').last)
      case SubquerySrc(_, a) => a
      case _ => return runJoin(spark, srcText, parsed) // join-shaped source
    }

    val srcDf = graft.HiveQl.native(spark, s"SELECT * FROM $srcText")
    val view = s"graft_mi_src_${counter.incrementAndGet()}"
    srcDf.createOrReplaceTempView(view)
    try {
      // branch select-list has no FROM (global in Hive form) — splice the
      // view in front of the first tail keyword to probe + execute
      def spliceFrom(select: String): String = {
        val from = s" FROM $view $alias "
        TailKw.findFirstMatchIn(select) match {
          case Some(m) => select.substring(0, m.start) + from + select.substring(m.start)
          case None => select + from
        }
      }
      val probeSql = parsed.map(p => spliceFrom(p._4))
      val probes = probeSql.map(graft.HiveQl.native(spark, _)) // lazy: analysis only

      // union of source columns any branch references (name-level ∩ is a
      // safe over-approximation; `SELECT *` pulls every column). The
      // traversal stops AT the source's subquery alias: the expanded view
      // subtree below it projects every source column, so descending into
      // it would mark everything referenced and defeat pruning.
      def refsAbove(plan: LogicalPlan): Seq[String] = plan match {
        case s: SubqueryAlias if s.alias.equalsIgnoreCase(alias) ||
            s.alias.equalsIgnoreCase(view) => Nil
        case node =>
          node.expressions.flatMap(_.collect {
            case a: AttributeReference => a.name.toLowerCase }) ++
            node.children.flatMap(refsAbove)
      }
      val srcCols = srcDf.columns
      val lower = srcCols.map(c => c.toLowerCase -> c).toMap
      val referenced = probes
        .flatMap(p => refsAbove(p.queryExecution.analyzed))
        .distinct.flatMap(lower.get)
      val needed = if (referenced.isEmpty) srcCols.toSeq else referenced

      val pruned = srcDf.select(needed.map(col): _*)
      val materialize = shouldMaterialize(spark, pruned)
      if (materialize) pruned.persist(StorageLevel.MEMORY_AND_DISK)
      pruned.createOrReplaceTempView(view) // branches now read the cache

      val branchSql = parsed.map { case (mode, target, part, select) =>
        val kw = if (mode == "OVERWRITE") "INSERT OVERWRITE TABLE" else "INSERT INTO"
        s"$kw $target $part ${spliceFrom(select)}"
      }
      try {
        // per-branch Hive store-assignment retry (HiveQl.withLegacyStoreRetry):
        // the reject happens at analysis, before any branch writes
        runBranches(spark, branchSql)
        lastReport = Some(Report(view, needed, materialize, branchSql,
          reportProbes(spark, branchSql)))
      } finally if (materialize) pruned.unpersist(false)
      true
    } finally spark.catalog.dropTempView(view)
  }

  /** Whether to persist the pruned common source. Default is SIZE-AWARE
    * (guide §5: caching is only worth it when recomputing costs more than
    * the cache pressure): below `spark.graft.multiInsert.cacheMinBytes`
    * (default 32 MB, by the optimizer's estimate) each branch just
    * re-scans the tiny source — the cache FILL job plus persist/unpersist
    * bookkeeping cost more than the rescans they saved (measured on
    * multi_insert.q's 500-row src: the fill job is the single largest
    * per-statement fixed cost). Explicit `spark.graft.multiInsert
    * .materialize` still forces: `cache` | `none`.
    */
  private def shouldMaterialize(spark: SparkSession, pruned: DataFrame): Boolean =
    spark.conf.getOption("spark.graft.multiInsert.materialize") match {
      case Some("none") => false
      case Some("cache") => true
      case _ =>
        val b = Sizing.planBytes(pruned)
        val min = spark.conf.getOption("spark.graft.multiInsert.cacheMinBytes")
          .map(_.toLong).getOrElse(32L << 20)
        b < 0 || b >= min // unknown size: keep the single-scan guarantee
    }

  /** Execute the INSERT branches. Branch targets are verified DISTINCT
    * before the statement runs (the duplicate-output check in
    * [[graft.HiveQl.checkStatement]]), so the branches are independent
    * jobs by construction — run them CONCURRENTLY (guide §2.6: actions are
    * only sequential because the driver calls them sequentially; the
    * reference's SemanticAnalyzer plans one job feeding N FileSinks, i.e.
    * the sinks fill in parallel there too). A small pool, FIFO scheduling:
    * the later branch back-fills the earlier one's task tail.
    * `spark.graft.multiInsert.parallel=false` restores sequential.
    */
  private def runBranches(spark: SparkSession, branchSql: Seq[String]): Unit =
    if (branchSql.size < 2 ||
        spark.conf.getOption("spark.graft.multiInsert.parallel").contains("false"))
      branchSql.foreach(b =>
        graft.HiveQl.withLegacyStoreRetry(spark)(graft.HiveQl.native(_, b)))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(branchSql.size, 4))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = branchSql.map { b =>
          new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              graft.HiveQl.withLegacyStoreRetry(spark)(graft.HiveQl.native(_, b))
          }
        }
        // invokeAll waits for all; surface the FIRST branch failure (same
        // statement-level failure contract as the sequential loop)
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      } finally pool.shutdown()
    }

  /** Analyzed per-branch probe frames for [[Report]] — observability only,
    * but each `spark.sql` is an EAGER analysis on the hot path, so they
    * are built only when a consumer asks
    * (`spark.graft.multiInsert.report=true`; MultiInsertSpec sets it).
    */
  private def reportProbes(spark: SparkSession,
      branchSql: Seq[String]): Seq[DataFrame] =
    if (!spark.conf.getOption("spark.graft.multiInsert.report").contains("true"))
      Seq.empty
    else branchSql.map { s =>
      // the leg text keeps the .q's original case (insert_into3.q
      // spells `select`) — find the keyword case-insensitively
      val at = "(?i)\\bSELECT\\b".r.findFirstMatchIn(s)
        .map(_.start).getOrElse(0)
      graft.HiveQl.native(spark, s.substring(at))
    }

  /** Join-shaped source: prune + materialize each base table ONCE, re-point
    * the join text at the cached relations (aliases intact), run branches.
    */
  private def runJoin(spark: SparkSession, srcText: String,
      parsed: Seq[(String, String, String, String)]): Boolean = {
    val pieces = parseJoinSource(srcText).getOrElse(return false)
    val tableRefs = pieces.collect { case tr: TableRef => tr }
    val aliasesLower = tableRefs.map(_.alias.toLowerCase).toSet
    if (aliasesLower.size != tableRefs.size) return false // duplicate alias

    def spliceFrom(select: String, fromText: String): String = {
      val from = s" FROM $fromText "
      TailKw.findFirstMatchIn(select) match {
        case Some(m) => select.substring(0, m.start) + from + select.substring(m.start)
        case None => select + from
      }
    }
    // probe against the ORIGINAL join text — names resolve identically, and
    // the analyzed plans carry both branch and ON-condition references
    val probes = parsed.map(p => graft.HiveQl.native(spark, spliceFrom(p._4, srcText)))
    def refsAbove(plan: LogicalPlan): Seq[String] = plan match {
      case s: SubqueryAlias if aliasesLower(s.alias.toLowerCase) => Nil
      case node =>
        node.expressions.flatMap(_.collect {
          case a: AttributeReference => a.name.toLowerCase }) ++
          node.children.flatMap(refsAbove)
    }
    val referenced = probes
      .flatMap(p => refsAbove(p.queryExecution.analyzed)).distinct.toSet

    // one pruned materialization per (table, column-set) — a self-join's
    // two aliases share a single cache fill; each table's persist decision
    // is size-aware like the simple-source path (a tiny pruned side is
    // cheaper to re-scan per branch than to cache-fill)
    val viewFor = scala.collection.mutable.LinkedHashMap.empty[(String, Seq[String]), String]
    val cached = Seq.newBuilder[DataFrame]
    var anyMaterialized = false
    try {
      val newFrom = pieces.map {
        case Passthrough(t) => t
        case TableRef(tbl, a) =>
          val tdf = spark.table(tbl)
          val needed0 = tdf.columns.filter(c => referenced(c.toLowerCase)).toSeq
          val needed = if (needed0.isEmpty) tdf.columns.toSeq else needed0
          val vname = viewFor.getOrElseUpdate((tbl.toLowerCase, needed), {
            val pruned = tdf.select(needed.map(col): _*)
            if (shouldMaterialize(spark, pruned)) {
              pruned.persist(StorageLevel.MEMORY_AND_DISK)
              cached += pruned
              anyMaterialized = true
            }
            val v = s"graft_mi_jsrc_${counter.incrementAndGet()}"
            pruned.createOrReplaceTempView(v)
            v
          })
          s"$vname $a"
      }.mkString("")

      val branchSql = parsed.map { case (mode, target, part, select) =>
        val kw = if (mode == "OVERWRITE") "INSERT OVERWRITE TABLE" else "INSERT INTO"
        s"$kw $target $part ${spliceFrom(select, newFrom)}"
      }
      runBranches(spark, branchSql)
      lastReport = Some(Report(viewFor.values.mkString(","),
        viewFor.keys.flatMap { case (t, cols) => cols.map(c => s"$t.$c") }.toSeq,
        anyMaterialized, branchSql, reportProbes(spark, branchSql)))
      true
    } finally {
      cached.result().foreach(_.unpersist(false))
      viewFor.values.foreach(spark.catalog.dropTempView)
    }
  }
}
