package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoDir, InsertIntoStatement, LogicalPlan,
  Union}
import graft.plans.StatementRefs.Write

/** HiveQL dialect entry point (SURVEY.md §7.2 M1). Spark 4 parses nearly the
  * whole Hive-0.8 grammar natively (SORT/DISTRIBUTE/CLUSTER BY, LATERAL
  * VIEW, TABLESAMPLE, TRANSFORM, multi-insert); this layer handles the
  * remaining statement forms:
  *
  *  - hint comments whose spelling changed: MAPJOIN(t) (Hive.g:1472-1499)
  *    becomes BROADCAST(t), and STREAMTABLE(t) (JoinReorder.java:39) is
  *    dropped — Catalyst's CBO join reordering subsumes the manual
  *    streaming-side choice;
  *  - `LOAD DATA [LOCAL] INPATH '..' [OVERWRITE] INTO TABLE t`
  *    (LoadSemanticAnalyzer.java:1) executed via [[sources.HiveLoad]];
  *  - `EXPORT TABLE t TO '..'` / `IMPORT [TABLE t] FROM '..'`
  *    (ExportSemanticAnalyzer.java:1 / ImportSemanticAnalyzer.java:1)
  *    executed via [[sources.HiveExim]];
  *  - `FROM UNIQUEJOIN [PRESERVE] t1 a (a.k), ... SELECT ...`
  *    (Hive.g:1595-1614, JoinDesc.UNIQUE_JOIN) rewritten to a chained
  *    FULL OUTER join + presence filter — a key row survives iff it appears
  *    in some PRESERVEd source or in every source;
  *  - `FROM src INSERT ... INSERT ...` multi-insert (Hive.g:1385-1419):
  *    Spark parses it into a `Union` of INSERT branches, which
  *    [[runWrite]] hands to [[operators.MultiInsert]] to run with a SINGLE
  *    scan of the common source (SemanticAnalyzer.java:1385-1419 plans one
  *    map phase feeding N sinks).
  */
object HiveQl {
  private val MapJoin = """(?i)/\*\+\s*MAPJOIN\s*\(([^)]*)\)\s*\*/""".r
  private val StreamTable = """(?i)/\*\+\s*STREAMTABLE\s*\(([^)]*)\)\s*\*/""".r
  // the path literal takes either quote style (Hive.g StringLiteral;
  // exim_01_nonpart.q spells LOAD DATA paths with double quotes)
  private val LoadData =
    """(?is)^\s*LOAD\s+DATA\s+(LOCAL\s+)?INPATH\s+['"]([^'"]+)['"]\s+(OVERWRITE\s+)?INTO\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$""".r
  // EXPORT TABLE t [PARTITION (spec)] TO 'dir' /
  // IMPORT [[EXTERNAL] TABLE t [PARTITION (spec)]] FROM 'dir' [LOCATION 'loc']
  // (Hive.g:309-317 tableOrPartition; EximUtil partition walk)
  private val ExportTable =
    """(?is)^\s*EXPORT\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+TO\s+'([^']+)'\s*;?\s*$""".r
  private val ImportTable =
    """(?is)^\s*IMPORT\s+(?:(EXTERNAL\s+)?TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+)?FROM\s+'([^']+)'(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""".r
  // CREATE/DROP TEMPORARY FUNCTION (Hive.g createFunctionStatement,
  // FunctionTask.java:1)
  private val CreateFunc =
    """(?is)^\s*CREATE\s+TEMPORARY\s+FUNCTION\s+(\w+)\s+AS\s+'([^']+)'\s*;?\s*$""".r
  private val DropFunc =
    """(?is)^\s*DROP\s+TEMPORARY\s+FUNCTION\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r
  // index DDL (Hive.g:467-490 createIndexStatement, :534-539 drop,
  // :591-598 alter-rebuild, :834-836 SHOW INDEXES) → operators.Indexes
  // tail clauses after the handler (Hive.g:467-490 order): WITH DEFERRED
  // REBUILD, IDXPROPERTIES, IN TABLE <name>, ROW FORMAT …, STORED AS <fmt>,
  // TBLPROPERTIES, COMMENT. ROW FORMAT / STORED AS / TBLPROPERTIES shape the
  // reference's index TABLE storage; the graft index store is parquet
  // regardless (index_creation.q's observable is the index table's
  // existence, name, and schema — not its serde), so they parse and drop.
  private val CreateIndex =
    ("""(?is)^\s*CREATE\s+INDEX\s+(`[^`]+`|\w+)\s+ON\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s*\(([^)]*)\)\s+AS\s+["']([^"']+)["']""" +
      """(\s+WITH\s+DEFERRED\s+REBUILD)?(?:\s+IDXPROPERTIES\s*\([^)]*\))?""" +
      """(?:\s+IN\s+TABLE\s+(`[^`]+`|[\w.]+))?""" +
      """(?:\s+ROW\s+FORMAT\s+DELIMITED(?:\s+FIELDS\s+TERMINATED\s+BY\s+'[^']*')?(?:\s+ESCAPED\s+BY\s+'[^']*')?)?""" +
      """(?:\s+STORED\s+AS\s+\w+)?(?:\s+TBLPROPERTIES\s*\([^)]*\))?""" +
      """(?:\s+COMMENT\s+["']([^"']*)["'])?\s*;?\s*$""").r
  // optional PARTITION spec (index_auto_unused.q): the reference rebuilds
  // one partition's entries; the graft rebuild is whole-index — with the
  // (path, length) staleness guard, extra fresh entries only widen what
  // the rewrite may prune, rows are identical either way
  private val AlterIndexRebuild =
    """(?is)^\s*ALTER\s+INDEX\s+(`[^`]+`|\w+)\s+ON\s+((?:`[^`]+`|[\w.])+)(?:\s+PARTITION\s*\([^)]*\))?\s+REBUILD\s*;?\s*$""".r
  // ALTER INDEX i ON t SET IDXPROPERTIES (...) (alter_index.q): the pairs
  // land on the index TABLE's properties (DDLTask.alterIndex)
  private val AlterIndexProps =
    ("""(?is)^\s*ALTER\s+INDEX\s+(`[^`]+`|\w+)\s+ON\s+((?:`[^`]+`|[\w.])+)\s+""" +
      """SET\s+IDXPROPERTIES\s*\(([^)]*)\)\s*;?\s*$""").r
  private val DropIndex =
    """(?is)^\s*DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?(`[^`]+`|\w+)\s+ON\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  private val ShowIndexes =
    """(?is)^\s*SHOW\s+(?:FORMATTED\s+)?INDEX(?:ES)?\s+ON\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // SHOW TABLE EXTENDED [IN|FROM db] LIKE pattern [PARTITION(spec)]
  // (Hive.g:838-840 showStatement, DDLTask.showTableStatus) — the pattern
  // is a Java regex in the reference (clientpositive/show_tablestatus.q: `src.?`, `^s.*`)
  private val ShowTableExtended =
    """(?is)^\s*SHOW\s+TABLE\s+EXTENDED\s+(?:(?:IN|FROM)\s+([\w.]+)\s+)?LIKE\s+(`[^`]+`|'[^']+'|"[^"]+"|\S+?)(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$""".r
  // ALTER TABLE t [PARTITION(spec)] CONCATENATE (Hive.g
  // alterStatementSuffixMergeFiles; DDLSemanticAnalyzer
  // analyzeAlterTablePartMergeFiles — Hive 0.8's RCFile block merge)
  private val AlterConcatenate =
    """(?is)^\s*ALTER\s+TABLE\s+((?:`[^`]+`|[\w.])+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+CONCATENATE\s*;?\s*$""".r
  // CREATE TABLE ... STORED BY 'handler' (Hive.g tableFileFormat
  // KW_STORED KW_BY; HiveStorageHandler) → sources.kv.KvSource DSv2
  private val StoredBy =
    """(?is)^\s*CREATE\s+(EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*?)\)\s+STORED\s+BY\s+'([^']+)'(?:\s+WITH\s+SERDEPROPERTIES\s*\((.*?)\))?(?:\s+TBLPROPERTIES\s*\((.*?)\))?\s*;?\s*$""".r
  private val PropPair = """'([^']*)'\s*=\s*'([^']*)'""".r
  // protect mode + TOUCH (Hive.g:658,750; TOK_NO_DROP/TOK_OFFLINE) and the
  // DROP intercept that enforces NO_DROP → graft.Protect
  private val AlterProtect =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+(?:PARTITION\s*\(([^)]*)\)\s+)?""" +
      """(ENABLE|DISABLE)\s+(NO_DROP|OFFLINE)\s*;?\s*$""").r
  // ALTER TABLE t SET SERDE 'class' [WITH SERDEPROPERTIES (...)]
  // (alterStatementSuffixSerdeProperties → TOK_ALTERTABLE_SERIALIZER;
  // timestamp_1.q/timestamp_2.q). The storage layer is engine-owned
  // (hivetext/hiveseq/hiverc formats), so a row-serde switch among the
  // known lazy serdes is metadata: validate the class and record it as a
  // table property — the observable `.q` results (what the rows SELECT
  // as) are serde-independent by construction.
  private val AlterSetSerde =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+SERDE\s+["']([^"']+)["']""" +
      """(?:\s+WITH\s+SERDEPROPERTIES\s*\((.*?)\))?\s*;?\s*$""").r
  private val AlterTouch =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+TOUCH(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$""".r
  // ALTER TABLE t REPLACE COLUMNS (a int, ...) (alterStatementSuffixAddCol
  // with KW_REPLACE → TOK_ALTERTABLE_REPLACECOLS): swap the whole data
  // schema; files are not rewritten (reinterpret-at-read, as CHANGE)
  // greedy body capture (to the LAST paren): parameterized and nested
  // types — decimal(10,2), map<string,int>, struct<...> — carry their own
  // parens/commas, so the list is split depth-aware in [[replaceColumns]]
  private val ReplaceCols =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+REPLACE\s+COLUMNS\s*\((.*)\)\s*;?\s*$""".r
  // ALTER TABLE t ADD COLUMNS (a int, ...) (same alterStatementSuffixAddCol
  // without KW_REPLACE): append to the data schema, files unchanged —
  // readers null-fill the new tail (input3.q). Intercepted because Spark's
  // native ALTER ADD COLUMNS refuses custom-FileFormat tables (hivetext &
  // co), where the reference's textfile tables accept it.
  private val AddCols =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS\s*\((.*)\)\s*;?\s*$""".r
  // ALTER TABLE t CHANGE [COLUMN] old new TYPE [COMMENT '..'] [FIRST|AFTER c]
  // (Hive.g alterStatementSuffixRenameCol → TOK_ALTERTABLE_RENAMECOL;
  // AlterTableDesc RENAMECOLUMN): rename + retype + reorder in one step
  private val ChangeCol =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+CHANGE\s+(?:COLUMN\s+)?""" +
      """(\w+)\s+(\w+)\s+([\w<>,()]+)(?:\s+COMMENT\s+'([^']*)')?""" +
      """(?:\s+(FIRST|AFTER\s+\w+))?\s*;?\s*$""").r
  // ALTER TABLE t RENAME TO u on a PARTITIONED managed table: Spark's
  // in-memory catalog moves the table directory but leaves each
  // partition's absolute location pointing at the OLD path (alter3.q's
  // post-rename partition reads come back empty) - repoint them
  private val AlterRename =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$""".r
  // ALTER TABLE t DROP [IF EXISTS] PARTITION (spec): Hive drops EVERY
  // partition matching a PARTIAL spec (drop_multi_partitions.q's
  // (b='1') takes both (1,1) and (1,2)); Spark requires the full spec
  private val AlterDropPartition =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(IF\s+EXISTS\s+)?""" +
      """PARTITION\s*\(([^)]*)\)\s*;?\s*$""").r
  // ALTER TABLE t NOT CLUSTERED (alterStatementSuffixClusterbySortby,
  // alter4.q): drop the bucket spec, files unchanged
  private val AlterNotClustered =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+NOT\s+CLUSTERED\s*;?\s*$""".r
  // ALTER TABLE t [PARTITION (spec)] SET FILEFORMAT fmt
  // (alterStatementSuffixFileFormat → TOK_ALTERTABLE_FILEFORMAT;
  // partition_wise_fileformat.q 1-7, alter_partition_format_loc.q):
  // declares the format FUTURE writes use. Existing partitions keep their
  // bytes and are read per-path exactly like the reference's MapOperator
  // per-partition SerDe pick (MapOperator.java:62) — the table converts to
  // the dispatching [[graft.sources.HiveHeteroSource]] format.
  private val AlterSetFileFormat =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?""" +
      """\s+SET\s+FILEFORMAT\s+(\w+)\s*;?\s*$""").r
  // the INPUTFORMAT "cls" OUTPUTFORMAT "cls" spelling of the same clause
  // (exim_04_evolved_parts.q) — resolved to the short format the OUTPUT
  // class names, the side that governs future writes
  private val AlterSetFileFormatIO =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?""" +
      """\s+SET\s+FILEFORMAT\s+INPUTFORMAT\s+["']([^"']+)["']\s+""" +
      """OUTPUTFORMAT\s+["']([^"']+)["'](?:\s+SERDE\s+["'][^"']+["'])?\s*;?\s*$""").r
  // ALTER TABLE t CLUSTERED BY (cols) [SORTED BY (cols)] INTO n BUCKETS
  // (alterStatementSuffixClusterbySortby's re-cluster arm — metadata only,
  // like the reference: existing files keep their layout, FUTURE writes
  // bucket by the new spec)
  private val AlterClusteredBy =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+CLUSTERED\s+BY\s*\(([^)]*)\)""" +
      """(?:\s+SORTED\s+BY\s*\(([^)]*)\))?\s+INTO\s+(\d+)\s+BUCKETS\s*;?\s*$""").r
  // ANALYZE TABLE t [PARTITION (spec)] COMPUTE STATISTICS (Hive.g
  // analyzeStatement → StatsTask.java:56; stats5-7.q): spec may be partial
  // or fully dynamic (bare keys) — every matching partition is counted
  private val AnalyzeTable =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?""" +
      """\s+COMPUTE\s+STATISTICS\s*;?\s*$""").r
  // PARTITIONED VIEWS (Hive.g createViewStatement viewPartition,
  // DDLSemanticAnalyzer ALTERVIEW_ADDPARTS/DROPPARTS over VIRTUAL_VIEW;
  // create_view_partitioned.q, create_or_replace_view.q): the partitions
  // are pure metadata decorating the view — recorded in view properties
  private[graft] val ViewPartColsKey = "graft.view.partcols"
  private[graft] val ViewPartsKey = "graft.view.parts"
  private val CreateViewPartitioned =
    ("""(?is)^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+))""" +
      """\s+PARTITIONED\s+ON\s*\(([^)]*)\)\s*(AS\s.*)$""").r
  private val AlterViewAddPart =
    ("""(?is)^\s*ALTER\s+VIEW\s+([\w.]+)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """((?:PARTITION\s*\([^)]*\)\s*)+);?\s*$""").r
  private val AlterViewDropPart =
    ("""(?is)^\s*ALTER\s+VIEW\s+([\w.]+)\s+DROP\s+(IF\s+EXISTS\s+)?""" +
      """PARTITION\s*\(([^)]*)\)\s*;?\s*$""").r
  private val ShowPartitionsQ =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$""".r

  private[graft] def viewParts(
      m: org.apache.spark.sql.catalyst.catalog.CatalogTable): Seq[String] =
    m.properties.getOrElse(ViewPartsKey, "")
      .split("").filter(_.nonEmpty).toSeq

  private def specName(spec: String): String =
    sources.HiveExim.parsePartSpec(spec).collect {
      case (k, Some(v)) => s"${k.toLowerCase}=${v.stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\"")}"
    }.mkString("/")

  private def alterViewParts(spark: SparkSession, view: String)(
      f: Seq[String] => Seq[String]): Unit = {
    val cat = spark.sessionState.catalog
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(view)
    val m = cat.getTableMetadata(ti)
    require(m.properties.contains(ViewPartColsKey),
      s"$view is not a partitioned view")
    cat.alterTable(m.copy(properties = m.properties +
      (ViewPartsKey -> f(viewParts(m)).mkString(""))))
  }
  private val DropTable =
    """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  // ALTER TABLE ... [UN]ARCHIVE PARTITION (TOK_ALTERTABLE_ARCHIVE,
  // SemanticAnalyzerFactory:162-163) → sources.HiveArchive
  private val ArchivePartition =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+(UN)?ARCHIVE\s+PARTITION\s*\(([^)]*)\)\s*;?\s*$""".r
  // concurrency locking (Hive.g:842-858 lock/unlockStatement, :838 SHOW
  // LOCKS) → graft.Locks
  // optional PARTITION spec on all three (Hive.g lockStatement /
  // showStatement; lock2.q locks one partition EXCLUSIVE under a SHARED
  // table lock)
  private val LockTable =
    """(?is)^\s*LOCK\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+(SHARED|EXCLUSIVE)\s*;?\s*$""".r
  private val UnlockTable =
    """(?is)^\s*UNLOCK\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$""".r
  private val ShowLocks =
    """(?is)^\s*SHOW\s+LOCKS(?:\s+(?!EXTENDED\b)([\w.]+))?(?:\s+PARTITION\s*\(([^)]*)\))?(?:\s+(EXTENDED))?\s*;?\s*$""".r
  // authorization statements (Hive.g:860-930) → graft.Authz
  private val CreateRole = """(?is)^\s*CREATE\s+ROLE\s+(\w+)\s*;?\s*$""".r
  private val DropRole = """(?is)^\s*DROP\s+ROLE\s+(\w+)\s*;?\s*$""".r
  private val GrantRole =
    """(?is)^\s*GRANT\s+ROLE\s+(\w+)\s+TO\s+USER\s+(\w+)\s*;?\s*$""".r
  private val RevokeRole =
    """(?is)^\s*REVOKE\s+ROLE\s+(\w+)\s+FROM\s+USER\s+(\w+)\s*;?\s*$""".r
  // privilege lists may be COLUMN-scoped (`select(key)`, Hive.g
  // privilegeObject), principals may be GROUPs (authorization_1.q)
  private val GrantPriv =
    """(?is)^\s*GRANT\s+([\w, ()]+?)\s+ON\s+(TABLE|DATABASE)\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+TO\s+(USER|ROLE|GROUP)\s+(\w+)(\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*$""".r
  private val RevokePriv =
    """(?is)^\s*REVOKE\s+([\w, ()]+?)\s+ON\s+(TABLE|DATABASE)\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+FROM\s+(USER|ROLE|GROUP)\s+(\w+)\s*;?\s*$""".r
  private val ShowGrant =
    """(?is)^\s*SHOW\s+GRANT\s+(USER|ROLE|GROUP)\s+(\w+)(?:\s+ON\s+(TABLE|DATABASE)\s+([\w.]+?)(?:\s*\(([^)]*)\))?(?:\s+PARTITION\s*\(([^)]*)\))?)?\s*;?\s*$""".r
  private val ShowRoleGrant =
    """(?is)^\s*SHOW\s+ROLE\s+GRANT\s+USER\s+(\w+)\s*;?\s*$""".r
  // DESCRIBE t.col[.path] (dotted column describe, describe_xpath.q) —
  // segments may be $elem$ / $key$ / $value$; requires >= 2 segments so
  // plain `DESCRIBE table` stays native
  private val DescribeColPath =
    ("""(?is)^\s*DESCRIBE\s+(\w+)\.""" +
      """((?:\w+|\$\w+\$)(?:\.(?:\w+|\$\w+\$))*)\s*;?\s*$""").r
  // command-processor lines (ql/processors/): SET k=v (SetProcessor.java)
  // and ADD FILE (AddResourceProcessor.java — what TRANSFORM scripts need)
  // parse NATIVELY in Spark SQL, so they fall through `rewrite` untouched;
  // SqlDialectSpec pins both. DFS / DELETE resource / ADD JAR are documented
  // drops (shell passthrough; no dynamic classpath in a library).
  // t TABLESAMPLE (BUCKET x OUT OF y ON col) [alias] — Hive.g tableSample;
  // Spark's TABLESAMPLE BUCKET form is a random fraction, so the
  // deterministic ON-column semantics are rewritten to an explicit
  // predicate over OUR `hash`. The reference emits
  // ((hash & Integer.MAX_VALUE) % y) == x-1 (SemanticAnalyzer.java:6089,
  // 1-based buckets) — the bitand must precede the mod: for NEGATIVE hash
  // values (string ON-columns) pmod(hash, y) picks a different bucket
  // whenever y isn't a power of two.
  private val TableSample =
    """(?i)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)\s+ON\s+(\w+(?:\s*,\s*\w+)*)\s*\)(\s+(?:AS\s+)?(\w+))?""".r
  // BUCKET x OUT OF y ON rand() (sample1.q): random bucket assignment —
  // each row lands in floor(rand()*y); keep bucket x-1. y = 1 is the
  // degenerate full sample.
  private val TableSampleRand =
    """(?i)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)\s+ON\s+rand\s*\(\s*(\d*)\s*\)\s*\)(\s+(?:AS\s+)?(\w+))?""".r
  // BUCKET x OUT OF y with NO ON-clause — "default table sample columns"
  // (Hive.g tableSample; SemanticAnalyzer.java:6240-6262): sample on the
  // TABLE'S bucket columns, error on a non-bucketed table. Needs the
  // catalog, so [[resolveDefaultSampleCols]] resolves it session-side
  // before the static rewrite.
  private val TableSampleNoOn =
    """(?i)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)\s*\)""".r
  // words that can follow the closing paren but are NOT a table alias
  private val NotAnAlias = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
    "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "SEMI", "ANTI", "ON",
    "UNION", "SORT", "DISTRIBUTE", "CLUSTER", "LATERAL", "AND", "OR", "AS")
  // SELECT <sel> FROM UNIQUEJOIN <sources> [WHERE/GROUP/ORDER/LIMIT tail]
  private val UniqueJoin =
    """(?is)^(.*?\bFROM)\s+UNIQUEJOIN\s+(.*?)\s*((?:\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b).*)?$""".r
  /** Replace every string literal with an opaque placeholder so the rewrite
    * regexes can never fire on literal CONTENT — `'... TABLESAMPLE ...'` or
    * a hint spelled inside a string must pass through byte-identical
    * (Hive.g tokenizes literals before the grammar sees keywords; a
    * regex pre-parser has to reproduce that masking explicitly). Hive
    * string rules: single or double quotes, backslash escapes.
    */
  private[graft] def maskLiterals(q: String): (String, IndexedSeq[String]) = {
    val lits = IndexedSeq.newBuilder[String]
    val out = new StringBuilder
    var i = 0
    var n = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '-' && i + 1 < q.length && q.charAt(i + 1) == '-') {
        // `--` line comment: copy verbatim — an apostrophe in a comment
        // (`-- don't`) must not open a literal
        while (i < q.length && q.charAt(i) != '\n') { out += q.charAt(i); i += 1 }
        i -= 1 // outer loop advances past the newline (or end)
      } else if (c == '/' && i + 1 < q.length && q.charAt(i + 1) == '*') {
        val end = q.indexOf("*/", i + 2)
        if (end < 0) {
          // unterminated block comment: pass the rest through for the
          // delegate lexer to reject
          out ++= q.substring(i); i = q.length - 1
        } else if (i + 2 < q.length && q.charAt(i + 2) == '+') {
          // `/*+ ... */` hint: copy verbatim so the MAPJOIN/STREAMTABLE
          // rewrites still see it in the masked text
          out ++= q.substring(i, end + 2); i = end + 1
        } else {
          // plain block comment: mask like a literal — an apostrophe inside
          // (`/* don't */`) must not open a string, and the rewrite regexes
          // must never fire on comment content
          lits += q.substring(i, end + 2)
          out ++= "\u0001" + n + "\u0001"
          n += 1
          i = end + 1
        }
      } else if (c == '`') {
        // backtick-quoted identifier (HiveLexer Identifier rule; `` = one
        // literal backtick): copy verbatim — a quote char inside must not
        // open a string literal
        out += c
        i += 1
        while (i < q.length && q.charAt(i) != '`') { out += q.charAt(i); i += 1 }
        require(i < q.length, s"unterminated quoted identifier in: $q")
        out += '`'
      } else if (c == '\'' || c == '"') {
        val start = i
        i += 1
        while (i < q.length && q.charAt(i) != c) {
          if (q.charAt(i) == '\\' && i + 1 < q.length) i += 1
          i += 1
        }
        require(i < q.length, s"unterminated string literal in: $q")
        lits += q.substring(start, i + 1)
        out ++= "\u0001" + n + "\u0001" // \u0001 cannot appear in SQL text
        n += 1
      } else out += c
      i += 1
    }
    (out.toString, lits.result())
  }

  private[graft] def unmaskLiterals(q: String, lits: IndexedSeq[String]): String =
    "\u0001(\\d+)\u0001".r.replaceAllIn(q, { m =>
      val idx = m.group(1).toInt
      // a raw \u0001 sequence in the INPUT (outside any literal) can
      // produce an index that is not ours -- pass it through for the lexer
      // to reject rather than crash the pre-parser
      java.util.regex.Matcher.quoteReplacement(
        if (idx < lits.length) lits(idx) else m.matched)
    })

  /** One UNIQUEJOIN source: [PRESERVE] table alias (key expressions).
    * Parsed by hand, not regex — key expressions may contain NESTED parens
    * (`(upper(a.k))`), which `[^)]*` would silently truncate.
    */
  private def parseUjSource(raw: String): UjSrc = {
    val s = raw.trim
    val preserve = s.toUpperCase.startsWith("PRESERVE ")
    val rest = (if (preserve) s.drop(9) else s).trim
    val open = rest.indexOf('(')
    require(open > 0 && rest.endsWith(")"),
      s"cannot parse UNIQUEJOIN source: $raw")
    val head = rest.substring(0, open).trim.split("\\s+").toSeq
    require(head.size == 2 && head.forall(_.matches("[\\w.\\u0001]+")),
      s"cannot parse UNIQUEJOIN source: $raw")
    val keys = splitSources(rest.substring(open + 1, rest.length - 1))
      .map(_.trim)
    require(keys.nonEmpty && keys.forall(_.nonEmpty),
      s"UNIQUEJOIN source needs key expressions: $raw")
    UjSrc(preserve, head(0), head(1), keys)
  }

  def rewrite(q: String): String = {
    val (masked, lits) = maskLiterals(q)
    unmaskLiterals(hoistUsing(rewriteUnionTypes(rewriteMasked(
      defaultTransformTabDelims(
        expandTransformComplex(rewriteSerdeFormats(masked, lits)))))), lits)
  }

  /** `uniontype<T0,...,Tn>` columns (Hive.g unionType; create_union_table
    * .q) → the engine's union encoding `struct<tag:int, field0:T0, ...>`
    * (the create_union function's shape), plus a `unioncols` option on the
    * hivetext source so the TEXT parse is tag-directed rather than
    * positional. Top-level column types only — no .q nests a union.
    */
  private def rewriteUnionTypes(q: String): String = {
    val lower = q.toLowerCase
    if (!lower.contains("uniontype<")) return q
    val out = new StringBuilder
    val cols = Seq.newBuilder[String]
    var i = 0
    while (i < q.length) {
      val at = lower.indexOf("uniontype<", i)
      if (at < 0) { out ++= q.substring(i); i = q.length }
      else {
        // the identifier immediately before the type is the column name
        val head = q.substring(i, at)
        out ++= head
        """(\w+)\s*$""".r.findFirstMatchIn(q.substring(0, at).stripSuffix(" "))
          .foreach(m => cols += m.group(1).toLowerCase)
        // balanced-angle scan over the type arguments
        var depth = 1
        var j = at + "uniontype<".length
        val inner = new StringBuilder
        while (j < q.length && depth > 0) {
          val c = q.charAt(j)
          if (c == '<') depth += 1
          else if (c == '>') depth -= 1
          if (depth > 0) inner += c
          j += 1
        }
        // split the argument list on commas at angle depth zero
        val args = Seq.newBuilder[String]
        var d = 0
        val cur = new StringBuilder
        inner.toString.foreach {
          case ',' if d == 0 => args += cur.toString.trim; cur.clear()
          case c =>
            if (c == '<') d += 1 else if (c == '>') d -= 1
            cur += c
        }
        if (cur.nonEmpty) args += cur.toString.trim
        val fields = args.result().zipWithIndex
          .map { case (t, k) => s"field$k:$t" }
        out ++= s"struct<tag:int, ${fields.mkString(", ")}>"
        i = j
      }
    }
    val names = cols.result().distinct
    if (names.isEmpty) return out.toString
    val text = out.toString
    val opt = s"unioncols '${names.mkString(",")}'"
    val withOpts = """(?i)USING\s+graft\.sources\.HiveTextSource\s+OPTIONS\s*\(""".r
    val bare = """(?i)USING\s+graft\.sources\.HiveTextSource\b""".r
    if (withOpts.findFirstIn(text).isDefined)
      withOpts.replaceAllIn(text, m =>
        java.util.regex.Matcher.quoteReplacement(m.matched + opt + ", "))
    else
      bare.replaceAllIn(text, m =>
        java.util.regex.Matcher.quoteReplacement(s"${m.matched} OPTIONS ($opt)"))
  }

  /** Hive's default TRANSFORM row codec is TAB-delimited text on BOTH
    * sides (PlanUtils.getDefaultTableDesc over separatorCode "9" —
    * ScriptOperator feeds scripts TAB-separated fields and parses their
    * stdout at TABs), while Spark's native script-transform default is
    * the \\u0001 byte. Symmetric pass-through scripts mask the difference; a
    * delimiter-aware script diverges (insert_into1.q-family `tr \t _`
    * sees no TAB to translate and the single output column reads only the
    * first ^A field). Declare Hive's delimiter explicitly on every script
    * clause that doesn't spell its own row format / record reader-writer:
    * `ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'` before USING (input
    * side) and after the AS clause (output side). Runs on MASKED text —
    * a quoted `USING '<cmd>'` placeholder is always a script command
    * (datasource USING providers are unquoted), the invariant
    * [[injectScriptEnv]]/[[resolveScriptPaths]] already rely on.
    */
  private val PhRe = "\\d+"
  private val RowFmtTailRe =
    ("(?is).*(?:ROW\\s+FORMAT\\s+(?:SERDE\\s+" + PhRe +
      "(?:\\s+WITH\\s+SERDEPROPERTIES\\s*\\([^)]*\\))?|DELIMITED" +
      "(?:\\s+(?:FIELDS\\s+TERMINATED\\s+BY\\s+" + PhRe +
      "(?:\\s+ESCAPED\\s+BY\\s+" + PhRe + ")?" +
      "|COLLECTION\\s+ITEMS\\s+TERMINATED\\s+BY\\s+" + PhRe +
      "|MAP\\s+KEYS\\s+TERMINATED\\s+BY\\s+" + PhRe +
      "|LINES\\s+TERMINATED\\s+BY\\s+" + PhRe +
      "|NULL\\s+DEFINED\\s+AS\\s+" + PhRe + "))*)" +
      "|RECORDWRITER\\s+" + PhRe + ")\\s*$").r
  private val ScriptUsingAs =
    ("(?is)\\bUSING\\s+(" + PhRe + ")" +
      "((?:\\s+AS\\s*\\([^)]*\\)|\\s+AS\\s+\\w+(?:\\s*,\\s*\\w+)*))?").r
  private val TabFmt = "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'"
  private def defaultTransformTabDelims(masked: String): String =
    ScriptUsingAs.replaceAllIn(masked, m => {
      val inFmt =
        if (RowFmtTailRe.pattern.matcher(m.before.toString).matches()) ""
        else TabFmt + " "
      // an UNPARENTHESIZED `AS a, b` followed by a row format fails to
      // parse in the multi-insert REDUCE position (input20.q's shape) —
      // parenthesize it, which is valid everywhere
      val asClause = Option(m.group(2)).map { a =>
        val inner = "(?is)^\\s+AS\\s+(?!\\()(.*)$".r
        inner.findFirstMatchIn(a)
          .map(mm => s" AS (${mm.group(1).trim})").getOrElse(a)
      }.getOrElse("")
      val outFmt =
        if (m.after.toString.matches("(?is)\\s*(ROW\\s+FORMAT|RECORDREADER)\\b.*")) ""
        // no AS clause = Hive's DEFAULT (key, value) output schema where
        // value captures the REST of the line including tabs
        // (ScriptOperator default serde; regexp_extract.q's golden shows
        // 'val_0<TAB>3<TAB>7' reaching regexp_extract) — an explicit
        // delimited row format would split strictly and drop the rest, so
        // leave Spark's native schema-less first-tab/rest behavior alone
        else if (m.group(2) == null) ""
        else " " + TabFmt
      java.util.regex.Matcher.quoteReplacement(
        s"${inFmt}USING ${m.group(1)}$asClause$outFmt")
    })

  // ---- serde/format long forms (lits-aware: the class names live inside
  // masked string literals, so these run on the masked text but look the
  // literal CONTENT up by placeholder index) ----
  // `ROW FORMAT SERDE 'ColumnarSerDe|LazySimpleSerDe'` ahead of a STORED AS
  // clause adds nothing once the format maps to a graft FileFormat carrying
  // that serde's exact codec — strip it (rcfile_union.q, rcfile_columnar.q)
  private val RowFormatSerde =
    ("""(?is)ROW\s+FORMAT\s+SERDE\s+(\d+)\s+(?=STORED\s+AS\b)""").r
  // contrib RegexSerDe (RegexSerDe.java:1): `ROW FORMAT SERDE
  // '...RegexSerDe' WITH SERDEPROPERTIES ("input.regex" = ..., ...)
  // [STORED AS TEXTFILE]` -> the graft `hiveregex` FileFormat with the
  // serde properties carried through as OPTIONS (placeholders unmask back
  // to the original quoted literals, so regex escapes survive verbatim)
  private val RegexSerdeCreate =
    ("""(?is)ROW\s+FORMAT\s+SERDE\s+(\d+)\s+WITH\s+SERDEPROPERTIES\s*""" +
      """\(([^)]*)\)(?:\s+STORED\s+AS\s+TEXTFILE\b)?""").r
  // LazySimpleSerDe with serialization.last.column.takes.rest=true over
  // TextInputFormat/HiveBinaryOutputFormat (binary_output_format.q): the
  // single-string-column whole-line table. HiveBinaryOutputFormat writes
  // the raw value bytes + newline, which for one string column is exactly
  // the hivetext writer's bytes; reads honor takes-rest via the lastcol
  // option (a limit-N field split).
  private val BinaryOutCreate =
    ("""(?is)ROW\s+FORMAT\s+SERDE\s+(\d+)\s+WITH\s+SERDEPROPERTIES\s*"""
      + """\(\s*(\d+)\s*=\s*(\d+)\s*\)\s*STORED\s+AS\s+"""
      + """INPUTFORMAT\s+(\d+)\s+OUTPUTFORMAT\s+(\d+)""").r
  // TRANSFORM output read through BinaryRecordReader + takes-rest serde:
  // one column absorbing the whole output line (tabs included) — the same
  // never-occurring \x02 field delimiter used by restCaptureDefaultTransform
  private val BinaryRecordReaderAs =
    ("""(?is)\bAS\s+(\w+)\s+STRING\s+ROW\s+FORMAT\s+SERDE\s+(\d+)\s+"""
      + """WITH\s+SERDEPROPERTIES\s*\([^)]*\)\s*RECORDREADER\s+(\d+)""").r

  private val TestSerdeBare =
    ("""(?is)ROW\s+FORMAT\s+SERDE\s+(\d+)\s+(?:STORED\s+AS\s+TEXTFILE\b)""").r
  private val SerdePropPair = """(\d+)\s*=\s*(\d+)""".r

  // `STORED AS INPUTFORMAT '...' OUTPUTFORMAT '...'` (Hive.g:1171-1176
  // tableFileFormat first alternative) → the graft FileFormat for the pair
  private val StoredAsInOut =
    ("""(?is)\bSTORED\s+AS\s+INPUTFORMAT\s+(\d+)\s+OUTPUTFORMAT\s+(\d+)""" +
      // optional INPUTDRIVER/OUTPUTDRIVER tail (Hive.g:1179): parsed-and-
      // dropped — the reference accepts the clause but the drivers appear
      // nowhere in the stored metadata (inoutdriver.q golden)
      """(?:\s+INPUTDRIVER\s+\d+\s+OUTPUTDRIVER\s+\d+)?""").r
  // `ROW FORMAT DELIMITED FIELDS TERMINATED BY '<d>' [LINES TERMINATED BY
  // '\n'] STORED AS TEXTFILE` (Hive.g tableRowFormat KW_DELIMITED;
  // LazySimpleSerDe's configurable separator, ctas.q's comma tables) →
  // hivetext with the delimiter as an OPTION; the placeholder is emitted
  // into the OPTIONS clause so unmasking restores the quoted literal
  // TRANSFORM-side explicit LazySimpleSerDe (Hive.g rowFormat in
  // selectTrfmClause) — not followed by STORED, which is the CREATE form.
  // The lookahead sits BEFORE any trailing \s* is consumed: with a trailing
  // `\s*(?!STORED\b)` the regex engine backtracks \s* to empty, the
  // lookahead then sees ' STORED' (leading space != STORED) and passes,
  // silently stripping CREATE-side bare-SERDE clauses (ADVICE r11) so the
  // table landed on the default parquet provider instead of hivetext.
  private val TransformSerde =
    """(?is)\bROW\s+FORMAT\s+SERDE\s+(\d+)(?!\s*STORED\b)\s*""".r
  private val DelimitedText =
    ("""(?is)ROW\s+FORMAT\s+DELIMITED\s+FIELDS\s+TERMINATED\s+BY\s+((\d+))""" +
      """(?:\s+ESCAPED\s+BY\s+(\d+))?""" +
      """(?:\s+COLLECTION\s+ITEMS\s+TERMINATED\s+BY\s+(\d+))?""" +
      """(?:\s+MAP\s+KEYS\s+TERMINATED\s+BY\s+(\d+))?""" +
      """(?:\s+LINES\s+TERMINATED\s+BY\s+(\d+))?\s+STORED\s+AS\s+(TEXTFILE|SEQUENCEFILE|RCFILE)\b""").r
  // the same DELIMITED clause ending the statement (no STORED AS -- Hive's
  // default format IS textfile; input_lazyserde.q's ESCAPED BY tables).
  // Anchored to end-of-statement so TRANSFORM row formats never match.
  private val DelimitedBare =
    ("""(?is)ROW\s+FORMAT\s+DELIMITED\s+FIELDS\s+TERMINATED\s+BY\s+((\d+))""" +
      """(?:\s+ESCAPED\s+BY\s+(\d+))?""" +
      """(?:\s+COLLECTION\s+ITEMS\s+TERMINATED\s+BY\s+(\d+))?""" +
      """(?:\s+MAP\s+KEYS\s+TERMINATED\s+BY\s+(\d+))?\s*;?\s*$""").r

  private def rewriteSerdeFormats(masked: String, lits: IndexedSeq[String]): String = {
    def lit(n: String): String =
      lits(n.toInt).stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\"")
    // LazySimpleSerDe's delimiter resolution (getByte): an all-digits
    // delimiter string is a BYTE CODE ('1' = \x01, '10' = \n --
    // input_dynamicserde.q), anything else is taken literally. Emit the
    // field separator as a fresh quoted literal when it needs the
    // byte-code translation, else keep the placeholder (unmasking
    // restores the original quoted literal).
    // LazySimpleSerDe.getByte parity (ADVICE r11): Byte.valueOf with a
    // charAt(0) fallback — a numeric literal OUTSIDE signed-byte range is
    // NOT a byte code; the reference falls back to its first character
    // ('200' → '2', not char 200)
    def byteCodeChar(v: String): Option[Char] =
      if (!v.matches("-?\\d+")) None
      else try Some((java.lang.Byte.parseByte(v) & 0xFF).toChar)
      catch { case _: NumberFormatException => Some(v.charAt(0)) }
    // these literals never reach Spark's lexer (they're consumed by the
    // rewrite), so HiveQL's string escapes must be decoded here: octal
    // ('\012' = \n, input4_cb_delim.q) and the letter escapes
    def unescDelim(v: String): String =
      if (!v.contains("\\")) v
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < v.length) {
          val c = v.charAt(i)
          if (c == '\\' && i + 1 < v.length) {
            val n = v.charAt(i + 1)
            if (n >= '0' && n <= '7') {
              var j = i + 1
              var code = 0
              while (j < v.length && j < i + 4 &&
                  v.charAt(j) >= '0' && v.charAt(j) <= '7') {
                code = code * 8 + (v.charAt(j) - '0'); j += 1
              }
              sb += code.toChar; i = j
            } else {
              sb += (n match {
                case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
                case other => other
              })
              i += 2
            }
          } else { sb += c; i += 1 }
        }
        sb.toString
      }
    def sepOption(placeholder: String, digits: String): String = {
      val v = unescDelim(lit(digits))
      byteCodeChar(v).map(c => s"'$c'")
        .getOrElse(if (v == lit(digits)) placeholder else s"'$v'")
    }
    def delimChar(digits: String): String = {
      val v = unescDelim(lit(digits))
      byteCodeChar(v).map(_.toString).getOrElse(v)
    }
    // RegexSerDe first: its WITH SERDEPROPERTIES form must not fall into
    // the bare-serde branches below. Column types are validated here, the
    // same CREATE-time failure the reference's SerDeException produces
    // (contrib clientnegative/serde_regex.q: INT columns must error)
    val binCreate = BinaryOutCreate.replaceAllIn(masked, m =>
      if (!lit(m.group(1)).endsWith("LazySimpleSerDe") ||
          lit(m.group(2)) != "serialization.last.column.takes.rest" ||
          !lit(m.group(3)).equalsIgnoreCase("true") ||
          !lit(m.group(5)).endsWith("HiveBinaryOutputFormat")) m.matched
      else java.util.regex.Matcher.quoteReplacement(
        "USING graft.sources.HiveTextSource OPTIONS (lastcol 'true')"))
    val binReader = BinaryRecordReaderAs.replaceAllIn(binCreate, m =>
      if (!lit(m.group(2)).endsWith("LazySimpleSerDe") ||
          !lit(m.group(3)).endsWith("BinaryRecordReader")) m.matched
      else java.util.regex.Matcher.quoteReplacement(
        s"AS (${m.group(1)}) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\002'"))
    val regexed = RegexSerdeCreate.replaceAllIn(binReader, m =>
      if (!lit(m.group(1)).endsWith("RegexSerDe")) m.matched
      else {
        val colsRe = """(?is)CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s*\((.*?)\)\s*ROW\s+FORMAT""".r
        colsRe.findFirstMatchIn(masked).foreach { cm =>
          cm.group(1).split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
            val ty = c.split("\\s+", 2).lift(1).getOrElse("")
            if (!ty.equalsIgnoreCase("STRING"))
              throw new IllegalStateException(
                s"RegexSerDe only accepts string columns, but column '$c' does not")
          }
        }
        val opts = SerdePropPair.findAllMatchIn(m.group(2)).map(pm =>
          s"\u0001${pm.group(1)}\u0001 = \u0001${pm.group(2)}\u0001").mkString(", ")
        java.util.regex.Matcher.quoteReplacement(
          s"USING graft.sources.HiveRegexSource OPTIONS ($opts)")
      })
    // the reference's TestSerDe (ql/src/test/.../TestSerDe.java:83-95):
    // LazySimpleSerDe semantics with a DEFAULT Ctrl-B separator,
    // overridable through the `testserde.default.serialization.format`
    // serde property (byte-code or literal, as LazySimpleSerDe.getByte) —
    // input16.q/input16_cc.q ADD JAR it; the engine maps the class to
    // hivetext with the resolved separator
    val tested = RegexSerdeCreate.replaceAllIn(regexed, m =>
      if (!lit(m.group(1)).endsWith("serde2.TestSerDe")) m.matched
      else {
        val sep = Option(m.group(2)).flatMap(props =>
          SerdePropPair.findAllMatchIn(props).collectFirst {
            case pm if lit(pm.group(1)) == "testserde.default.serialization.format" =>
              val v = unescDelim(lit(pm.group(2)))
              byteCodeChar(v).map(_.toString).getOrElse(v)
          }).getOrElse("")
        java.util.regex.Matcher.quoteReplacement(
          s"USING graft.sources.HiveTextSource OPTIONS (sep '$sep')")
      })
    // prop-less TestSerDe spelling (input16.q): SERDE '...' STORED AS TEXTFILE
    val noPropsTestSerde = TestSerdeBare.replaceAllIn(tested, m =>
      if (lit(m.group(1)).endsWith("serde2.TestSerDe"))
        java.util.regex.Matcher.quoteReplacement(
          "USING graft.sources.HiveTextSource OPTIONS (sep '\u0002')")
      else m.matched)
    // DynamicSerDe over TCTLSeparatedProtocol (serde2/dynamic_type/
    // DynamicSerDe.java + serde2/thrift/TCTLSeparatedProtocol.java;
    // input19.q's apache-log table): field.delim / quote.delim /
    // serialization.null.format flow through as hivectl OPTIONS, the
    // serialization.format prop itself is the dispatch and is consumed
    val ctlMapped = RegexSerdeCreate.replaceAllIn(noPropsTestSerde, m =>
      if (!lit(m.group(1)).endsWith("dynamic_type.DynamicSerDe")) m.matched
      else {
        val pairs = SerdePropPair.findAllMatchIn(m.group(2)).toSeq
        val isCtl = pairs.exists(pm => lit(pm.group(1)) == "serialization.format" &&
          lit(pm.group(2)).endsWith("TCTLSeparatedProtocol"))
        if (!isCtl) throw new IllegalStateException(
          "DynamicSerDe: only the TCTLSeparatedProtocol serialization.format " +
            "has an engine mapping")
        val opts = pairs.filterNot(pm => lit(pm.group(1)) == "serialization.format")
          .map(pm => s"${pm.group(1)} = ${pm.group(2)}")
          .mkString(", ")
        java.util.regex.Matcher.quoteReplacement(
          "USING graft.sources.HiveCtlSource" +
            (if (opts.nonEmpty) s" OPTIONS ($opts)" else ""))
      })
    // ThriftDeserializer CREATEs (inputddl8.q): the column list comes from
    // the serde's serialization.class — the engine knows the reference's
    // test Complex record (HiveThriftSeq.ComplexSchema) and injects its
    // DDL; the container format comes from the trailing STORED AS clause
    val thriftSerde = RegexSerdeCreate.replaceAllIn(ctlMapped, m =>
      if (!lit(m.group(1)).endsWith("thrift.ThriftDeserializer")) m.matched
      else {
        val cls = SerdePropPair.findAllMatchIn(m.group(2)).collectFirst {
          case pm if lit(pm.group(1)) == "serialization.class" => lit(pm.group(2))
        }.getOrElse("")
        if (!cls.endsWith("serde2.thrift.test.Complex"))
          throw new IllegalStateException(
            s"ThriftDeserializer: no engine mapping for serialization.class $cls")
        ""
      })
    val thriftMapped =
      if (thriftSerde == ctlMapped) ctlMapped
      else if ("""(?is)^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s*\("""
          .r.findFirstIn(thriftSerde).isDefined) thriftSerde
      else """(?is)^(\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+)""".r
        .replaceFirstIn(thriftSerde,
          "$1 (aint INT, astring STRING, lint ARRAY<INT>, lstring ARRAY<STRING>, " +
            "lintstring ARRAY<STRUCT<myint: INT, mystring: STRING, underscore_int: INT>>, " +
            "mstringstring MAP<STRING, STRING>)")
    val delimFull = DelimitedText.replaceAllIn(thriftMapped, m => {
      // collection/map-key/line delimiters other than the engine's fixed
      // LazySimpleSerDe levels (\x02 / \x03 / \n) are unsupported --
      // leave the statement for the delegate parser to reject loudly
      val collOk = Option(m.group(4)).forall(delimChar(_) == "\u0002")
      val keyOk = Option(m.group(5)).forall(delimChar(_) == "\u0003")
      val lineOk = Option(m.group(6)).forall(delimChar(_) == "\n")
      val escOpt = Option(m.group(3)).map { g =>
        val c = delimChar(g).replace("\\", "\\\\").replace("'", "\\'")
        s", esc '$c'"
      }.getOrElse("")
      if (!collOk || !keyOk || !lineOk) m.matched
      else m.group(7).toUpperCase match {
        case "TEXTFILE" => java.util.regex.Matcher.quoteReplacement(
          s"USING graft.sources.HiveTextSource OPTIONS (sep ${sepOption(m.group(1), m.group(2))}$escOpt)")
        case "SEQUENCEFILE" => java.util.regex.Matcher.quoteReplacement(
          s"USING graft.sources.HiveSeqSource OPTIONS (sep ${sepOption(m.group(1), m.group(2))}$escOpt)")
        // RCFile stores column blobs — a row-level field delimiter never
        // reaches the bytes (ColumnarSerDe splits by column, create_1.q's
        // table5); the clause is metadata
        case _ => "USING graft.sources.HiveRCSource"
      }
    })
    // CREATE-only: the bare end-of-statement DELIMITED clause is the
    // tableRowFormat position. A TRANSFORM's trailing output row format
    // ends statements too (defaultTransformTabDelims inserts one), and the
    // dialect-parser layering re-runs this rewrite on already-rewritten
    // text — matching there would corrupt the script clause.
    val delim =
      if (!delimFull.matches("(?is)^\\s*CREATE\\s.*")) delimFull
      else DelimitedBare.replaceAllIn(delimFull, m => {
        val escOpt = Option(m.group(3)).map { g =>
          val c = delimChar(g).replace("\\", "\\\\").replace("'", "\\'")
          s", esc '$c'"
        }.getOrElse("")
        // non-default COLLECTION ITEMS delimiter → the source's level-1
        // override option (create_struct_table.q's '\001'); the default
        // \x02 adds nothing; a custom MAP KEYS delimiter stays unsupported
        // (statement left for the delegate parser to reject loudly)
        val collOpt = Option(m.group(4)).map(delimChar)
          .filter(_ != "").map { c =>
            s", coll '${c.replace("\\", "\\\\").replace("'", "\\'")}'"
          }.getOrElse("")
        if (Option(m.group(5)).exists(delimChar(_) != "")) m.matched
        else java.util.regex.Matcher.quoteReplacement(
          s"USING graft.sources.HiveTextSource OPTIONS (sep ${sepOption(m.group(1), m.group(2))}$escOpt$collOpt)")
      })
    val noSerde = RowFormatSerde.replaceAllIn(delim, m =>
      if (lit(m.group(1)).matches(""".*(ColumnarSerDe|LazySimpleSerDe)""")) ""
      else m.matched)
    // TRANSFORM(...) ROW FORMAT SERDE 'LazySimpleSerDe' USING ... /
    // AS (...) ROW FORMAT SERDE '...' (input34.q): LazySimpleSerDe with
    // default properties IS Spark's default TRANSFORM row codec (^A
    // delimiters, \N nulls), and Spark rejects the explicit SERDE spelling
    // outside hive mode — strip it. The negative lookahead leaves the
    // CREATE-side `SERDE ... STORED AS` form to the rewrite above.
    // Dispatch by statement shape (ADVICE r11): on a CREATE, a bare
    // `ROW FORMAT SERDE 'LazySimpleSerDe'` with no STORED AS is Hive's
    // DEFAULT-textfile table (tableRowFormat with implicit tableFileFormat)
    // and maps to hivetext — stripping it here landed the table on Spark's
    // default parquet provider. WITH SERDEPROPERTIES stays unmatched so the
    // delegate parser rejects non-default serde properties loudly.
    val isCreate = masked.matches("(?is)^\\s*CREATE\\s.*")
    val noTransformSerde =
      if (isCreate)
        TransformSerde.replaceAllIn(noSerde, m =>
          // LazyBinarySerDe CREATEs map the same way (null_column.q's
          // tt_b): the row serde is metadata over engine-owned storage,
          // exactly the AlterSetSerde treatment
          if ((lit(m.group(1)).endsWith("LazySimpleSerDe") ||
               lit(m.group(1)).endsWith("LazyBinarySerDe")) &&
              !m.after.toString.trim.toUpperCase.startsWith("WITH"))
            "USING graft.sources.HiveTextSource "
          else m.matched)
      else TransformSerde.replaceAllIn(noSerde, m =>
        // keep a bare DELIMITED marker: explicit LazySimpleSerDe means the
        // serde's own ^A default (Spark's native default), and the marker
        // stops defaultTransformTabDelims from re-declaring Hive's TAB
        if (lit(m.group(1)).endsWith("LazySimpleSerDe")) "ROW FORMAT DELIMITED "
        else m.matched)
    StoredAsInOut.replaceAllIn(noTransformSerde, m => {
      val (inF, outF) = (lit(m.group(1)), lit(m.group(2)))
      if (inF.endsWith("RCFileInputFormat") && outF.endsWith("RCFileOutputFormat"))
        "USING graft.sources.HiveRCSource"
      else if (inF.endsWith("SequenceFileInputFormat") &&
          outF.contains("SequenceFileOutputFormat"))
        "USING graft.sources.HiveSeqSource"
      else if (inF.endsWith("SymlinkTextInputFormat") &&
          outF.contains("IgnoreKeyTextOutputFormat"))
        "USING graft.sources.HiveSymlinkSource"
      else if (inF.endsWith("TextInputFormat") &&
          outF.contains("IgnoreKeyTextOutputFormat"))
        "USING graft.sources.HiveTextSource"
      else throw new IllegalStateException(
        s"unmapped STORED AS INPUTFORMAT $inF OUTPUTFORMAT $outF")
    })
  }

  // The serde rewrites above emit `USING fmt [OPTIONS(...)]` IN PLACE of
  // Hive's format clause, which sits AFTER any PARTITIONED BY / CLUSTERED
  // BY — a position Spark's parser rejects (USING must precede table
  // clauses). Hoist it, same order swap PartitionedStoredAsText /
  // ClusteredStoredAs perform for the plain STORED AS forms. The patterns
  // only match the already-invalid trailing-USING order, so a
  // Spark-native CREATE is never touched.
  private val UsingClause = """USING\s+[\w.]+(?:\s+OPTIONS\s*\([^)]*\))?"""
  private val ClusteredUsing =
    ("""(?is)(CLUSTERED\s+BY\s*\([^)]*\)(?:\s+SORTED\s+BY\s*\([^)]*\))?""" +
      s"""\\s+INTO\\s+\\d+\\s+BUCKETS)\\s+($UsingClause)""").r
  private val PartitionedUsing =
    s"""(?is)(PARTITIONED\\s+BY\\s*\\([^)]*\\))\\s+($UsingClause)""".r

  // table-level COMMENT sits between the column list and the format clause
  // in Hive (exim_02_part.q: `(cols) comment "…" partitioned by … stored as
  // textfile`); Spark wants USING immediately after the column list
  private val CommentUsing =
    s"""(?is)(COMMENT\\s+\\d+)\\s+($UsingClause)""".r

  private def hoistUsing(q: String): String = {
    val c = ClusteredUsing.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(s"${m.group(2)} ${m.group(1)}"))
    val p = PartitionedUsing.replaceAllIn(c, m =>
      java.util.regex.Matcher.quoteReplacement(s"${m.group(2)} ${m.group(1)}"))
    CommentUsing.replaceAllIn(p, m =>
      java.util.regex.Matcher.quoteReplacement(s"${m.group(2)} ${m.group(1)}"))
  }

  // CREATE TABLE ... STORED AS TEXTFILE (Hive.g tableFileFormat KW_TEXTFILE)
  // → the graft `hivetext` FileFormat, LazySimpleSerDe's exact codec: ^A
  // delimiter, \N nulls, no quoting — and '' is the empty STRING, not null
  // (the distinction Spark's CSV source cannot express: an unquoted empty
  // field always reads as null there). The table's on-disk files ARE
  // Hive-text interchange files. Hive puts PARTITIONED BY before the
  // format clause; Spark requires USING before the table clauses, so the
  // partitioned form swaps them.
  // SEQUENCEFILE (KW_SEQUENCEFILE → HiveSequenceFileOutputFormat's table
  // layout) resolves the same way to the graft `hiveseq` FileFormat: the
  // identical row codec inside Hadoop's SequenceFile container.
  private def storedAsUsing(fmt: String): String = fmt.toUpperCase match {
    case "TEXTFILE" => "USING graft.sources.HiveTextSource"
    case "SEQUENCEFILE" => "USING graft.sources.HiveSeqSource"
    case "RCFILE" => "USING graft.sources.HiveRCSource"
    case other => throw new IllegalStateException(s"unmapped STORED AS $other")
  }
  private val PartitionedStoredAsText =
    """(?is)PARTITIONED\s+BY\s*(\([^)]*\))\s+STORED\s+AS\s+(TEXTFILE|SEQUENCEFILE|RCFILE)""".r
  // Hive puts the bucket spec before the format clause too (smb_mapjoin
  // .q: CLUSTERED BY ... SORTED BY ... INTO n BUCKETS STORED AS RCFILE);
  // Spark wants USING first — same swap as the partitioned form
  private val ClusteredStoredAs =
    ("""(?is)(CLUSTERED\s+BY\s*\([^)]*\)(?:\s+SORTED\s+BY\s*\([^)]*\))?""" +
      """\s+INTO\s+\d+\s+BUCKETS)\s+STORED\s+AS\s+(TEXTFILE|SEQUENCEFILE|RCFILE)""").r
  private val StoredAsText =
    """(?is)\bSTORED\s+AS\s+(TEXTFILE|SEQUENCEFILE|RCFILE)\b""".r

  // Hive's bare `INSERT OVERWRITE [LOCAL] DIRECTORY 'path' SELECT ...`
  // (Hive.g destination KW_DIRECTORY) writes LazySimpleSerDe text; Spark's
  // native form requires a USING clause, so the bare form resolves to the
  // hivetext FileFormat — same bytes the reference's moveTask lands
  private val BareInsertDir =
    ("""(?is)\b(INSERT\s+OVERWRITE\s+(?:LOCAL\s+)?DIRECTORY\s+\d+)(?!\s+(?:USING|STORED)\b)""").r

  // Hive 0.8 has NO decimal type: a bare float literal IS a DOUBLE
  // (Hive.g Number -> TOK_DOUBLE; DECIMAL arrived in 0.11). Spark types
  // `1.0` as DECIMAL(2,1), which silently changes arithmetic: Hive's
  // 1.0/0.0 is Infinity, decimal division is NULL-on-divide-by-zero
  // (udf_round.q's round(1.0/0.0, 0) caught the divergence). Suffix
  // unquoted decimal-point literals with `D` so they type as DOUBLE.
  // Guards: no leading/trailing word or dot char (identifiers, exponent
  // and D/BD-suffixed forms excluded), and not followed by an INTERVAL /
  // TABLESAMPLE unit keyword, where a typed literal is invalid.
  private val FloatLiteral =
    ("""(?i)(?<![\w.])(\d+\.\d+)(?![\w.])""" +
      """(?!\s*(?:PERCENT|SECOND|MINUTE|HOUR|DAY|MONTH|YEAR|WEEK)S?\b)""").r

  // Hive charset string literals `_UTF-8 0xE982B5...` (Hive.g
  // charSetStringLiteral): bytes in the named charset. Spark has no
  // literal form for this -> decode(unhex(hex), charset), the identical
  // bytes-to-string read (udf_reverse.q's non-ascii case).
  private val CharsetLiteral =
    """(?<![\w])_([A-Za-z][\w-]*)\s+0[xX]([0-9A-Fa-f]+)""".r

  // CREATE EXTERNAL TABLE x LIKE y [LOCATION ...] (create_like.q): Spark's
  // grammar rejects EXTERNAL on the LIKE form - its LIKE+LOCATION is
  // already external-semantics (files survive DROP) - strip the keyword
  private val ExternalLike =
    ("""(?is)\bCREATE\s+EXTERNAL\s+TABLE\s+((?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s+LIKE\b)""").r

  // likewise the STORED-AS rewrites emit `USING graft.sources.*`, and
  // Spark rejects EXTERNAL together with USING — external-ness is implied
  // by the LOCATION clause there
  private val ExternalUsing =
    """(?is)\bCREATE\s+EXTERNAL\s+TABLE\b(?=(?:(?!;).)*\bUSING\s+graft\.sources\.)""".r

  private def rewriteMasked(q: String): String = {
    // virtual columns by their HiveQL spellings (VirtualColumn.java:34-38;
    // virtual_column.q): INPUT__FILE__NAME is Spark's input_file_name();
    // BLOCK__OFFSET__INSIDE__FILE maps to the engine's per-scan unique id
    // (byte offsets are a storage detail — the q46 mapping)
    val vc = q.replaceAll("(?i)\\bINPUT__FILE__NAME\\b", "input_file_name()")
      .replaceAll("(?i)\\bBLOCK__OFFSET__INSIDE__FILE\\b",
        "monotonically_increasing_id()")
    val eu = ExternalUsing.replaceAllIn(vc, "CREATE TABLE")
    val el = ExternalLike.replaceAllIn(eu, m =>
      java.util.regex.Matcher.quoteReplacement(s"CREATE TABLE ${m.group(1)}"))
    val cs = CharsetLiteral.replaceAllIn(el, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"decode(unhex('${m.group(2)}'), '${m.group(1)}')"))
    val dbl = FloatLiteral.replaceAllIn(cs, m => m.group(1) + "D")
    val iod = BareInsertDir.replaceAllIn(dbl, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} USING graft.sources.HiveTextSource"))
    val clustered = ClusteredStoredAs.replaceAllIn(iod, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${storedAsUsing(m.group(2))} ${m.group(1)}"))
    val storedAs = StoredAsText.replaceAllIn(
      PartitionedStoredAsText.replaceAllIn(clustered, m =>
        java.util.regex.Matcher.quoteReplacement(
          s"${storedAsUsing(m.group(2))} PARTITIONED BY ${m.group(1)}")),
      m => java.util.regex.Matcher.quoteReplacement(storedAsUsing(m.group(1))))
    // HOLD_DDLTIME is consumed by the statement checks and post-hooks
    // (DDL-time suppression) — Spark's planner must not see it as an
    // unknown hint
    val noHold = HoldDdltime.replaceAllIn(storedAs, "")
    val noStream = StreamTable.replaceAllIn(noHold, "")
    val hinted0 = MapJoin.replaceAllIn(noStream, m => s"/*+ BROADCAST(${m.group(1)}) */")
    // Spark's grammar rejects a hint on a TRANSFORM select
    // (select_transform_hint.q): the hint only steers the FROM-side join,
    // which Spark plans without it — strip it there
    val hinted = """(?is)/\*\+[^*]*\*/(\s*\n?\s*TRANSFORM\s*\()""".r
      .replaceAllIn(hinted0, m =>
        java.util.regex.Matcher.quoteReplacement(m.group(1)))
    val randSampled = TableSampleRand.replaceAllIn(hinted, m => {
      val (tbl, x, y) = (m.group(1), m.group(2).toInt, m.group(3).toInt)
      val seed = m.group(4) // optional: ON rand(460476415) — test-mode's seed
      val explicit = Option(m.group(6)).filterNot(a => NotAnAlias(a.toUpperCase))
      val alias = explicit.getOrElse(tbl.split('.').last)
      val trailer = if (m.group(5) != null && explicit.isEmpty) m.group(5) else ""
      val body =
        if (y == 1) s"SELECT * FROM $tbl"
        else s"SELECT * FROM $tbl WHERE floor(rand($seed) * $y) = ${x - 1}"
      s"($body) $alias$trailer"
    })
    val sampled = TableSample.replaceAllIn(randSampled, m => {
      val (tbl, x, y, c) = (m.group(1), m.group(2).toInt, m.group(3), m.group(4))
      // subquery alias: an explicit trailing alias if present, else the last
      // identifier segment (a qualified db.tbl is not a legal alias)
      val explicit = Option(m.group(6)).filterNot(a => NotAnAlias(a.toUpperCase))
      val alias = explicit.getOrElse(tbl.split('.').last)
      // if the absorbed word was a keyword, not an alias, put it back
      val trailer = if (m.group(5) != null && explicit.isEmpty) m.group(5) else ""
      s"(SELECT * FROM $tbl WHERE (hash($c) & 2147483647) % $y = ${x - 1}) $alias$trailer"
    })
    // Hive.g's native spelling is FROM-first (`FROM UNIQUEJOIN <srcs>
    // SELECT <cols> [WHERE ...]`, uniquejoin.q) — normalize to the
    // select-first shape the rewrite below handles
    val ujNormalized = sampled match {
      case FromFirstUniqueJoin(srcs, rest) =>
        val m = """(?i)\b(WHERE|GROUP|ORDER|LIMIT)\b""".r.findFirstMatchIn(rest)
        val (cols, tail) = m match {
          case Some(mm) => (rest.substring(0, mm.start), " " + rest.substring(mm.start))
          case None => (rest, "")
        }
        s"SELECT ${cols.trim} FROM UNIQUEJOIN ${srcs.trim}$tail"
      case other => other
    }
    ujNormalized match {
      case UniqueJoin(head, srcs, tail) if srcs.toUpperCase.contains("(") =>
        rewriteUniqueJoin(head, srcs, Option(tail).getOrElse(""))
      case other => other
    }
  }

  private val FromFirstUniqueJoin =
    """(?is)^\s*FROM\s+UNIQUEJOIN\s+(.*?)\s+SELECT\s+(.*?)\s*;?\s*$""".r

  private case class UjSrc(preserve: Boolean, table: String, alias: String,
      keys: Seq[String])

  /** Split the UNIQUEJOIN source list on commas at paren depth zero (key
    * expression lists contain their own commas).
    */
  private def splitSources(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result()
  }

  private def rewriteUniqueJoin(head: String, srcText: String, tail: String): String = {
    val srcs = splitSources(srcText).map(parseUjSource)
    require(srcs.size >= 2, "UNIQUEJOIN needs at least two sources")
    val nKeys = srcs.head.keys.size
    require(srcs.forall(_.keys.size == nKeys),
      "UNIQUEJOIN sources must list the same number of key expressions")

    // chained FULL OUTER joins; source i joins on each key position equal to
    // the coalesce of that position over all prior sources
    val from = new StringBuilder(s"${srcs.head.table} ${srcs.head.alias}")
    srcs.zipWithIndex.drop(1).foreach { case (s, i) =>
      val conds = (0 until nKeys).map { p =>
        val prior = srcs.take(i).map(_.keys(p))
        val lhs = if (prior.size == 1) prior.head
                  else s"coalesce(${prior.mkString(", ")})"
        s"$lhs = ${s.keys(p)}"
      }
      from ++= s" FULL OUTER JOIN ${s.table} ${s.alias} ON ${conds.mkString(" AND ")}"
    }

    // presence: in some PRESERVEd source, or in every source
    val present = srcs.map(s => s"${s.keys.head} IS NOT NULL")
    val preserved = srcs.zip(present).collect { case (s, c) if s.preserve => c }
    val all = present.mkString("(", " AND ", ")")
    val presence = (preserved :+ all).mkString("(", " OR ", ")")

    val where =
      if (tail.toUpperCase.startsWith("WHERE")) {
        // split the WHERE condition from any trailing GROUP/ORDER/LIMIT
        val rest = tail.drop(5)
        val m = """(?i)\b(GROUP|ORDER|LIMIT)\b""".r.findFirstMatchIn(rest)
        val (cond, clauses) = m match {
          case Some(mm) => (rest.substring(0, mm.start), rest.substring(mm.start))
          case None => (rest, "")
        }
        s" WHERE ($cond) AND $presence $clauses"
      } else s" WHERE $presence $tail"
    s"$head $from$where"
  }

  // ${prefix:name} — no }, $, or space inside (VariableSubstitution.java:33)
  private val VarPat = """\$\{[^\}\$ ]+\}""".r
  private val MaxSubst = 40

  /** `${hiveconf:k}` / `${hivevar:k}` / `${system:k}` / `${env:k}` / bare
    * `${k}` (= hivevar) substitution, iterated to a fixed point
    * (ql/parse/VariableSubstitution.java, SetProcessor.java:36-39
    * prefixes; the reference applies it in Driver.compile, so OUR driver
    * analogue — `sql` below — applies it for every entry point: CLI,
    * Thrift, library). Spark session conf plays the HiveConf role, so
    * `SET k=v` feeds `${hiveconf:k}` and `SET hivevar:k=v` feeds
    * `${hivevar:k}`/`${k}` with no extra state. An unresolvable variable
    * stays LITERAL (reference behavior — Spark's native pass, disabled in
    * Sessions, would erase it to empty string); > 40 rounds is a loud
    * cycle error. Gated by `hive.variable.substitute` (default true,
    * HIVEVARIABLESUBSTITUTE).
    */
  def substituteVars(spark: SparkSession, expr: String): String = {
    if (spark.conf.getOption("hive.variable.substitute").contains("false"))
      return expr
    // Spark's `SET hivevar:k=v` STRIPS the prefix and stores bare `k`
    // (SetCommand), while a programmatic conf.set("hivevar:k", v) stores
    // it verbatim — accept both storage shapes for hivevar/bare lookups
    def lookup(v: String): Option[String] =
      if (v.startsWith("system:")) sys.props.get(v.stripPrefix("system:"))
      else if (v.startsWith("env:")) sys.env.get(v.stripPrefix("env:"))
      else if (v.startsWith("hiveconf:")) spark.conf.getOption(v.stripPrefix("hiveconf:"))
      else {
        val bare = v.stripPrefix("hivevar:")
        spark.conf.getOption("hivevar:" + bare).orElse(spark.conf.getOption(bare))
      }
    var eval = expr
    var i = 0
    while (i < MaxSubst) {
      VarPat.findFirstMatchIn(eval) match {
        case None => return eval
        case Some(m) =>
          lookup(m.matched.substring(2, m.matched.length - 1)) match {
            case None => return eval // unresolvable: leave literal
            case Some(v) =>
              eval = eval.substring(0, m.start) + v + eval.substring(m.end)
          }
      }
      i += 1
    }
    throw new IllegalStateException(
      s"Variable substitution depth too large: $MaxSubst $expr")
  }

  /** Splice a no-ON `TABLESAMPLE (BUCKET x OUT OF y)` into the explicit ON
    * form using the target table's catalog bucket spec (the reference's
    * default-sample-columns path). Non-bucketed targets get the
    * reference's NON_BUCKETED_TABLE error (ErrorMsg.java:104). Masked so a
    * TABLESAMPLE spelled inside a string literal never triggers it.
    */
  def resolveDefaultSampleCols(spark: SparkSession, q: String): String = {
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    if (TableSampleNoOn.findFirstIn(masked).isEmpty) return q
    val out = TableSampleNoOn.replaceAllIn(masked, m => {
      val tbl = m.group(1)
      val cols =
        try {
          val parts = tbl.split('.')
          val ti =
            if (parts.length > 1)
              org.apache.spark.sql.catalyst.TableIdentifier(parts.last, Some(parts(parts.length - 2)))
            else org.apache.spark.sql.catalyst.TableIdentifier(tbl)
          hiveBucketSpec(spark.sessionState.catalog.getTableMetadata(ti))
            .map(_._1).getOrElse(Nil)
        } catch { case _: Exception => Nil }
      if (cols.isEmpty)
        throw new IllegalStateException(
          s"Sampling expression needed for non-bucketed table $tbl")
      java.util.regex.Matcher.quoteReplacement(
        s"$tbl TABLESAMPLE (BUCKET ${m.group(2)} OUT OF ${m.group(3)} " +
          s"ON ${cols.mkString(", ")})")
    })
    unmaskLiterals(out, lits)
  }

  /** Hive TABLESAMPLE(BUCKET n OUT OF d ON <bucket cols>) FILE pruning
    * (SemanticAnalyzer.java genTablePlan + TableSample.java): when the ON
    * columns ARE the table's bucket columns, the reference prunes bucket
    * FILES — one bucket per data file, files sorted by name — instead of
    * filtering rows:
    *   d == b          → file n-1
    *   d <  b, b%d==0  → files n-1, n-1+d, n-1+2d, …
    *   d >  b, d%b==0  → file (n-1)%b, plus the residual hash%d filter
    * This matters when loaded fixture files are NOT hash-clean for the
    * declared column type (srcbucket2's files are bucketed by the STRING
    * hash of an INT column — sample6.q's golden shows file contents, not
    * value-hash rows). Applies only to LOAD-shaped layouts: engine-written
    * bucketed files carry Spark bucket-id markers (`_NNNNN.` in the name)
    * and fall back to the value-hash predicate rewrite — their data is
    * hash-clean by construction, so the predicate IS the file semantics.
    * Partitioned tables prune per partition directory (each holds its own
    * b bucket files). The rewrite happens driver-side at parse time — at
    * scale this is one directory listing per partition, the same metadata
    * walk the reference's sampling pruner (SamplePruner.java) does — and
    * the selected files are read DIRECTLY (a temp view over only those
    * paths), so the scan's I/O is selected/d of the table, not a full scan
    * with a post-hoc row filter.
    */
  private val TableSampleOnColsPre =
    """(?i)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)\s+ON\s+(\w+(?:\s*,\s*\w+)*)\s*\)(\s+(?:AS\s+)?(\w+))?""".r

  /** A table's Hive bucket layout: the live Spark bucketSpec, or the spec
    * stashed by HiveLoad when foreign loaded files demoted the table to
    * plain scans (cols, numBuckets). */
  private[graft] def hiveBucketSpec(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable): Option[(Seq[String], Int)] =
    meta.bucketSpec.map(bs => (bs.bucketColumnNames, bs.numBuckets))
      .orElse(for {
        cols <- meta.properties.get("graft.hive.bucket.cols")
        n <- meta.properties.get("graft.hive.bucket.n")
      } yield (cols.split(",").toSeq, n.toInt))

  def resolveBucketFileSampling(spark: SparkSession, q: String): String = {
    if (!q.toUpperCase.contains("TABLESAMPLE")) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    if (TableSampleOnColsPre.findFirstIn(masked).isEmpty) return q
    val out = TableSampleOnColsPre.replaceAllIn(masked, m => {
      val (tbl, n, d) = (m.group(1), m.group(2).toInt, m.group(3).toInt)
      val cols = m.group(4).split(",").map(_.trim.toLowerCase).toSeq
      bucketSampleFiles(spark, tbl, n, d, cols) match {
        case None => m.matched // not file-prunable: static predicate rewrite
        case Some((files, residual, meta)) =>
          val explicit = Option(m.group(6)).filterNot(a => NotAnAlias(a.toUpperCase))
          val alias = explicit.getOrElse(tbl.split('.').last)
          val trailer = if (m.group(5) != null && explicit.isEmpty) m.group(5) else ""
          val body =
            if (files.isEmpty) s"SELECT * FROM $tbl WHERE false" // no files
            else {
              // Read ONLY the selected bucket files — the scan's FileIndex is
              // the pruned list, so I/O shrinks by selected/d (the point of
              // sampling at 100 TB). basePath recovers partition columns for
              // partitioned layouts; the residual hash filter (d > b) stays a
              // row predicate on top.
              // View name must encode the FULL sample identity (ON cols +
              // chosen files), or two samples of one table in a statement
              // collide on createOrReplaceTempView and one silently reads
              // the other's file set.
              val ident = java.lang.Integer.toHexString(
                (cols.mkString(",") + "|" + files.mkString(",") + "|" +
                  residual.getOrElse("")).hashCode)
              val view = s"graft_bsample_${tbl.replace('.', '_')}_${n}_${d}_$ident"
              val provider = meta.provider.getOrElse("parquet")
              var rd = spark.read.format(provider).schema(meta.schema)
                .options(meta.storage.properties)
              if (meta.partitionColumnNames.nonEmpty)
                rd = rd.option("basePath",
                  new org.apache.hadoop.fs.Path(meta.location).toString)
              rd.load(files: _*)
                .select(meta.schema.map(f =>
                  org.apache.spark.sql.functions.col(f.name)): _*)
                .createOrReplaceTempView(view)
              s"SELECT * FROM $view" + residual.fold("")(r => s" WHERE $r")
            }
          java.util.regex.Matcher.quoteReplacement(s"($body) $alias$trailer")
      }
    })
    unmaskLiterals(out, lits)
  }

  /** `SET hive.default.fileformat=<fmt>` (HiveConf HIVEDEFAULTFILEFORMAT;
    * SemanticAnalyzer.getDefaultFormats): a CREATE TABLE that names no
    * explicit format (no STORED AS / STORED BY / USING / ROW FORMAT and
    * not a LIKE copy) picks up the session default — sample10.q creates
    * its bucketed table as RCFILE this way. The clause is inserted where
    * Hive's grammar puts it (before LOCATION / TBLPROPERTIES / the CTAS
    * select) so the existing STORED AS → USING swaps handle ordering.
    */
  private def applyDefaultFileFormat(spark: SparkSession, q: String): String = {
    val fmt = spark.conf.getOption("hive.default.fileformat")
      .map(_.trim.toUpperCase)
      .filter(Set("TEXTFILE", "SEQUENCEFILE", "RCFILE")).getOrElse(return q)
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val up = masked.toUpperCase
    if (!"""(?s)^\s*CREATE\s+(TEMPORARY\s+)?(EXTERNAL\s+)?TABLE\b.*""".r
        .matches(up)) return q
    if (Seq("STORED AS", "STORED BY", "ROW FORMAT").exists(up.contains) ||
        """\bUSING\b""".r.findFirstIn(up).isDefined ||
        """\bLIKE\b""".r.findFirstIn(up).isDefined) return q
    val clause = s" STORED AS $fmt "
    val at = """(?i)\b(?:LOCATION\b|TBLPROPERTIES\b|AS\b(?=\s*\(?\s*SELECT\b))""".r
      .findFirstMatchIn(masked).map(_.start)
    val out = at match {
      case Some(i) => masked.substring(0, i) + clause + masked.substring(i)
      case None => masked.trim.stripSuffix(";") + clause
    }
    unmaskLiterals(out, lits)
  }

  /** `t TABLESAMPLE (n PERCENT)` — Hive's SPLIT sampling
    * (SemanticAnalyzer.java splitSample + CombineHiveInputFormat
    * .sampleSplits): whole input splits are chosen, seeded by
    * hive.sample.seednumber, until the sampled bytes reach n% of the
    * total; never fewer than one split. Spark-first shape: the unit is
    * the FILE (one split per small file at these sizes), the seeded
    * shuffle orders the name-sorted file list, and the chosen files are
    * read directly through a pruned listing — at 100 TB a 1% sample does
    * 1% of the I/O, the same contract as the bucket-file pruning above.
    */
  private val TableSamplePercent =
    // alias may be GLUED to the closing paren (sample_islocalmode_hook.q's
    // `tablesample(1 percent)a`) — Hive's lexer splits `)a` fine
    """(?i)([\w.]+)\s+TABLESAMPLE\s*\(\s*([0-9.]+)\s+PERCENT\s*\)(\s*(?:AS\s+)?(\w+))?""".r

  def resolveSplitSampling(spark: SparkSession, q: String): String = {
    if (!q.toUpperCase.contains("TABLESAMPLE")) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    if (TableSamplePercent.findFirstIn(masked).isEmpty) return q
    val out = TableSamplePercent.replaceAllIn(masked, m => {
      val (tbl, pct) = (m.group(1), m.group(2).toDouble)
      val explicit = Option(m.group(4)).filterNot(a => NotAnAlias(a.toUpperCase))
      val alias = explicit.getOrElse(tbl.split('.').last)
      val trailer = if (m.group(3) != null && explicit.isEmpty) m.group(3) else ""
      val metaOpt = try {
        Some(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(tbl)))
      } catch { case _: Exception => None }
      metaOpt match {
        case None => m.matched // temp view etc.: leave to Spark's sampler
        case Some(meta) =>
          val hconf = spark.sparkContext.hadoopConfiguration
          val root = new org.apache.hadoop.fs.Path(meta.location)
          val fs = root.getFileSystem(hconf)
          val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          if (fs.exists(root)) {
            val it = fs.listFiles(root, true)
            while (it.hasNext) {
              val st = it.next()
              if (!st.getPath.getName.startsWith("_") &&
                  !st.getPath.getName.startsWith("."))
                files += ((st.getPath.toString, st.getLen))
            }
          }
          if (files.isEmpty || pct >= 100.0) m.matched
          else {
            val seed = spark.conf.getOption("hive.sample.seednumber")
              .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(0)
            val shuffled = new scala.util.Random(seed)
              .shuffle(files.sortBy(_._1).toSeq)
            val target = math.max(1L,
              math.ceil(shuffled.map(_._2).sum * pct / 100.0).toLong)
            val chosen = scala.collection.mutable.ArrayBuffer.empty[String]
            var cum = 0L
            shuffled.foreach { case (p, len) =>
              if (cum < target) { chosen += p; cum += len }
            }
            // Encode the exact pct string + chosen files in the view name:
            // (pct*100).toInt truncates every sub-0.01% rate to 0, so two
            // different tiny samples of one table+seed would otherwise
            // collide on createOrReplaceTempView.
            val ident = java.lang.Integer.toHexString(
              (m.group(2) + "|" + chosen.mkString(",")).hashCode)
            val view = s"graft_psample_${tbl.replace('.', '_')}_${seed}_$ident"
            var rd = spark.read.format(meta.provider.getOrElse("parquet"))
              .schema(meta.schema).options(meta.storage.properties)
            if (meta.partitionColumnNames.nonEmpty)
              rd = rd.option("basePath", root.toString)
            rd.load(chosen.toSeq: _*)
              .select(meta.schema.map(f =>
                org.apache.spark.sql.functions.col(f.name)): _*)
              .createOrReplaceTempView(view)
            java.util.regex.Matcher.quoteReplacement(
              s"(SELECT * FROM $view) $alias$trailer")
          }
      }
    })
    unmaskLiterals(out, lits)
  }

  /** Selected bucket-file full paths (+ residual predicate + table meta) for
    * a file-pruned sample, or None when the predicate rewrite should handle
    * it. */
  private def bucketSampleFiles(spark: SparkSession, tbl: String, n: Int,
      d: Int, onCols: Seq[String]): Option[(Seq[String], Option[String],
      org.apache.spark.sql.catalyst.catalog.CatalogTable)] = {
    val meta = try {
      val parts = tbl.split('.')
      val ti =
        if (parts.length > 1) org.apache.spark.sql.catalyst.TableIdentifier(
          parts.last, Some(parts(parts.length - 2)))
        else org.apache.spark.sql.catalyst.TableIdentifier(tbl)
      spark.sessionState.catalog.getTableMetadata(ti)
    } catch { case _: Exception => return None }
    val (bucketCols, b) = hiveBucketSpec(meta).getOrElse(return None)
    if (bucketCols.map(_.toLowerCase) != onCols) return None
    if (d != b && !(d < b && b % d == 0) && !(d > b && d % b == 0)) return None
    val dirs: Seq[org.apache.hadoop.fs.Path] =
      if (meta.partitionColumnNames.nonEmpty)
        spark.sessionState.catalog.listPartitions(meta.identifier)
          .map(p => new org.apache.hadoop.fs.Path(p.location))
      else Seq(new org.apache.hadoop.fs.Path(meta.location))
    val fs = dirs.headOption.map(_.getFileSystem(spark.sparkContext.hadoopConfiguration))
      .getOrElse(return None)
    val perDir = dirs.map { dir =>
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .map(_.getPath).sortBy(_.getName).toSeq
    }
    // engine-written bucketed layout (Spark bucket-id marker): predicate wins
    if (perDir.exists(_.exists(p => """_\d{5}[._]""".r.findFirstIn(p.getName).isDefined)))
      return None
    // Hive trusts one file per bucket; a dir with a different file count
    // can't be pruned positionally
    if (perDir.exists(fl => fl.nonEmpty && fl.size != b)) return None
    val idx: Seq[Int] =
      if (d == b) Seq(n - 1)
      else if (d < b) (n - 1) until b by d
      else Seq((n - 1) % b)
    val residual =
      if (d > b) Some(s"(hash(${onCols.mkString(", ")}) & 2147483647) % $d = ${n - 1}")
      else None
    val files = perDir.flatMap { fl =>
      idx.filter(_ < fl.size).map(i => fl(i).toString)
    }
    Some((files, residual, meta))
  }

  /** TRANSFORM/MAP/REDUCE ... USING '<bare name>' where the name matches a
    * session `ADD FILE` resource (scriptfile1.q's shape — Hive resolves
    * the script from the distributed cache). Local mode: the added file is
    * NOT on the task PATH/cwd, so the bare name resolves to SparkFiles'
    * local copy (made executable — ADD FILE does not preserve +x). Cluster
    * mode: added files localize into each task container's cwd where the
    * bare name already works — leave the command untouched.
    */
  /** Hive's DEFAULT TRANSFORM output schema (no AS clause) is (key, value)
    * where key is the text before the FIRST tab and value is the REST OF
    * THE LINE INCLUDING TABS (ScriptOperator's default two-column
    * LazySimpleSerDe; regexp_extract.q's golden shows 'val_0<TAB>3<TAB>7'
    * reaching regexp_extract). Spark's schema-less TRANSFORM either drops
    * the rest (explicit row format) or leaves value null (no row format),
    * so the rewrite pipes the script through `sed "s/\t/\002/"` (first tab
    * → \x02) and declares AS (key, value) split on \x02 — value keeps its
    * interior tabs byte-identical.
    */
  private def restCaptureDefaultTransform(q: String): String = {
    if (!q.toUpperCase.contains("USING")) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val hits = scala.collection.mutable.Set.empty[Int]
    val out = ScriptUsingAs.replaceAllIn(masked, m => {
      val after = m.after.toString
      if (m.group(2) != null ||
          after.matches("(?is)\\s*(ROW\\s+FORMAT|RECORDREADER|AS)\\b.*")) m.matched
      else {
        // group(1) is the full <n> placeholder
        hits += m.group(1).replace("", "").toInt
        java.util.regex.Matcher.quoteReplacement(
          s"USING ${m.group(1)} AS (key, value) " +
            "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\002'")
      }
    })
    if (hits.isEmpty) return q
    val newLits = lits.zipWithIndex.map { case (l, i) =>
      if (!hits(i)) l
      else {
        val quote = l.head
        val body = l.tail.dropRight(1)
        val inner = if (quote == '\'') '"' else '\''
        // \t and \002 unescape to raw bytes at the SQL lexer, so sed's
        // argv carries a literal tab and a literal \x02
        s"$quote$body | sed $inner" + "s/\\t/\\002/" + s"$inner$quote"
      }
    }
    unmaskLiterals(out, newLits)
  }

  /** Hive's ScriptOperator argv-splits the (SQL-unescaped) command itself
    * on spaces, so a raw TAB produced by the literal escape `\t` survives
    * as its own argument (`USING 'tr \t _'`, insert_into1.q). Spark runs
    * the command through `bash -c`, where an unquoted TAB is just IFS —
    * the argument vanishes. Re-quote standalone `\t` tokens inside USING
    * literals so bash hands the script a literal 2-char `\t` (which tr's
    * own SET escapes then decode — same tab the reference's argv carried).
    */
  private def bashSafeScriptArgs(q: String): String = {
    if (!q.toLowerCase.contains("using")) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val hits = ("""(?i)\bUSING\s+(\d+)""").r
      .findAllMatchIn(masked).map(_.group(1).toInt).toSet
    if (hits.isEmpty) return q
    val newLits = lits.zipWithIndex.map { case (lit, i) =>
      if (!hits(i)) lit
      else {
        val quote = lit.head.toString
        val body = lit.stripPrefix(quote).stripSuffix(quote)
        quote + body.split(" ", -1).map { tok =>
          if (tok == "\\t" || tok == "\t") "\\'\\\\t\\'"
          else if (tok == "\\n") "\\'\\\\n\\'" // bash would eat the \ -> 'n'
          else tok
        }.mkString(" ") + quote
      }
    }
    unmaskLiterals(masked, newLits)
  }

  def resolveScriptPaths(spark: SparkSession, q: String): String = {
    if (!spark.sparkContext.isLocal) return q
    // name → the added file's own path (driver and tasks share one
    // filesystem in local mode, so the original path IS the local copy)
    val byName = spark.sparkContext.listFiles().flatMap { u =>
      scala.util.Try {
        val f = new java.io.File(new java.net.URI(u).getPath)
        f.getName -> f.getAbsolutePath
      }.toOption
    }.toMap
    if (byName.isEmpty) return q
    // masking discipline: the command IS a literal, so match the USING
    // keyword + placeholder in MASKED text and rewrite the literal by
    // index — a "USING 'x'" spelled inside some other string can't fire
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val hits = ("""(?i)\bUSING\s+(\d+)""").r
      .findAllMatchIn(masked).map(_.group(1).toInt).toSet
    if (hits.isEmpty) return q
    val newLits = lits.zipWithIndex.map { case (lit, i) =>
      if (!hits(i)) lit
      else {
        val quote = lit.head.toString // ' or " (maskLiterals keeps both)
        val body = lit.stripPrefix(quote).stripSuffix(quote)
        // Hive localizes EVERY added file into the script's cwd, so any
        // argv token naming one resolves — 'python dumpdata_script.py'
        // (groupby_bigdata.q) needs the SECOND token resolved, not the
        // command. Resolve each exact basename match.
        val resolved = body.split(" ").map { tok =>
          byName.get(tok).map { p =>
            val f = new java.io.File(p)
            if (f.isFile && !f.canExecute) f.setExecutable(true)
            p
          }.getOrElse(tok)
        }.mkString(" ")
        quote + resolved + quote
      }
    }
    unmaskLiterals(masked, newLits)
  }

  /** hive.test.mode (BaseSemanticAnalyzer.java:626-630 + SemanticAnalyzer
    * .java:6314-6360, input30-32.q): INSERT target table names get
    * hive.test.mode.prefix prepended, and every scanned table whose name
    * is not on hive.test.mode.nosamplelist is sampled — BUCKET 1 OUT OF
    * numBuckets (input pruning) when the table is bucketed, else BUCKET 1
    * OUT OF hive.test.mode.samplefreq ON rand(460476415) (the reference's
    * fixed test-mode seed). Fires only under the conf, so the FROM/JOIN
    * table-name rewrite stays off every normal path.
    */
  private def applyTestMode(spark: SparkSession, q: String): String = {
    if (!spark.conf.getOption("hive.test.mode")
        .exists(_.trim.equalsIgnoreCase("true"))) return q
    val prefix = spark.conf.getOption("hive.test.mode.prefix").getOrElse("test_")
    val freq = spark.conf.getOption("hive.test.mode.samplefreq")
      .map(_.trim.toInt).getOrElse(32)
    val noSample = spark.conf.getOption("hive.test.mode.nosamplelist")
      .getOrElse("").split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    // 1. dest redirect: INSERT OVERWRITE/INTO TABLE t -> prefix+t
    val destRe =
      """(?is)\b(INSERT\s+(?:OVERWRITE|INTO)\s+TABLE\s+)([\w.]+)""".r
    val redirected = destRe.replaceAllIn(masked, m =>
      java.util.regex.Matcher.quoteReplacement(s"${m.group(1)}$prefix${m.group(2)}"))
    // 2. source sampling: FROM/JOIN <existing table not in nosamplelist>
    val srcRe = """(?is)\b(FROM|JOIN)\s+([A-Za-z_]\w*)\b(?!\s*TABLESAMPLE)""".r
    val sampled = srcRe.replaceAllIn(redirected, m => {
      val name = m.group(2)
      val lower = name.toLowerCase
      val keep = noSample(lower) || !spark.catalog.tableExists(name) ||
        lower.startsWith(prefix.toLowerCase)
      if (keep) m.matched
      else {
        val buckets = scala.util.Try(hiveBucketSpec(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name)))
          .map(_._2)).toOption.flatten
        val sampleClause = buckets match {
          case Some(n) if n > 0 => s"TABLESAMPLE (BUCKET 1 OUT OF $n)"
          case _ => s"TABLESAMPLE (BUCKET 1 OUT OF $freq ON rand(460476415))"
        }
        java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)} $name $sampleClause")
      }
    })
    unmaskLiterals(sampled, lits)
  }

  // ---- CTAS auto-generated column aliases (SemanticAnalyzer.getColAlias
  // + genSelectPlan position counter; autogen_colalias.q). Hive names every
  // unaliased non-column select expression `<label><pos>` (label from
  // hive.autogen.columnalias.prefix.label, default `_c`), or — when
  // hive.autogen.columnalias.prefix.includefuncname=true and the expression
  // root is a function — a 20-char prefix derived from the flattened
  // expression text plus `_<pos>`. Spark derives pretty-printed names
  // instead, so the dialect layer adds the reference's aliases explicitly.
  private val CtasSelectHead =
    ("""(?is)^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:EXTERNAL\s+)?(?:TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """[\w.]+.*?\bAS\s+SELECT\s+)(DISTINCT\s+)?(.*)$""").r

  private def autogenCtasAliases(spark: SparkSession, q: String): String = {
    if (!"""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:EXTERNAL\s+)?(?:TABLE|VIEW)\s[\s\S]*\bAS\s+SELECT\b[\s\S]*""".r
        .pattern.matcher(q).matches) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: Exception => return q }
    val m = CtasSelectHead.findFirstMatchIn(masked).getOrElse(return q)
    val rest = m.group(3)
    // find the top-level FROM (depth 0) bounding the select list
    var depth = 0
    var fromAt = -1
    var i = 0
    while (i < rest.length && fromAt < 0) {
      rest.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if depth == 0 && (c == 'f' || c == 'F') &&
            rest.regionMatches(true, i, "from", 0, 4) &&
            (i == 0 || !Character.isLetterOrDigit(rest.charAt(i - 1)) && rest.charAt(i - 1) != '_') &&
            (i + 4 >= rest.length || !Character.isLetterOrDigit(rest.charAt(i + 4)) && rest.charAt(i + 4) != '_') =>
          fromAt = i
        case _ =>
      }
      i += 1
    }
    val (listText, tail) =
      if (fromAt >= 0) (rest.substring(0, fromAt), rest.substring(fromAt))
      else (rest.replaceAll(";\\s*$", ""), rest.substring(rest.replaceAll(";\\s*$", "").length))
    // a nested SELECT / star / window / script clause in the list → leave
    // the statement alone (only plain expression lists get Hive names)
    if ("""(?is)[\s\S]*(\bselect\b|\bover\b|\btransform\b|\busing\b|\bmap\b|\breduce\b|\*)[\s\S]*""".r
        .pattern.matcher(listText).matches) return q
    // split on depth-0 commas
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    depth = 0
    listText.foreach {
      case '(' => depth += 1; sb.append('(')
      case ')' => depth -= 1; sb.append(')')
      case ',' if depth == 0 => items += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    items += sb.toString
    val label = spark.conf
      .get("hive.autogen.columnalias.prefix.label", "_c")
    val includeFunc = spark.conf
      .get("hive.autogen.columnalias.prefix.includefuncname", "false").toBoolean
    var changed = false
    val aliased = items.zipWithIndex.map { case (raw, pos) =>
      // NOT String.trim — it strips every char <= 0x20 including the \x01
      // literal-mask delimiters, which would make a masked literal look
      // like a bare numeric column reference
      val t = raw.replaceAll("^\\s+|\\s+$", "")
      val needs: Boolean =
        if ("""(?is)[\s\S]*\sAS\s+[`\w]+$""".r.pattern.matcher(t).matches) false
        else if ("""(?is)^[`\w.]+$""".r.pattern.matcher(t).matches) false // bare col
        else if (t.endsWith(")")) true // function / paren expr root
        else """[A-Za-z_]\w*$|\d[\d.]*$""".r.findFirstMatchIn(t) match {
          case Some(mm) =>
            // trailing token: an OPERAND (preceded by an operator) still
            // needs a name; a space-separated identifier is a bare alias
            val before = t.substring(0, mm.start).reverse.dropWhile(_.isWhitespace)
            val sep = mm.start > 0 && t.charAt(mm.start - 1).isWhitespace
            before.headOption match {
              case None => true // pure literal/number expression
              case Some(c) if "+-*/%(<>=&|^,".contains(c) => true
              case Some('.') => false // qualified col ref
              case Some(_) if sep &&
                  """[A-Za-z_]\w*$""".r.pattern.matcher(mm.matched).matches =>
                false // `expr alias` bare-alias form
              case Some(_) => true
            }
          case None => true
        }
      if (!needs) raw
      else {
        changed = true
        val isFunc = """(?is)^[\w.]+\s*\([\s\S]*\)$""".r.pattern.matcher(t).matches
        val alias =
          if (includeFunc && isFunc) {
            // unwrap a whole-expression CAST(x AS type): the reference's
            // AST drops the TOK_<TYPE> node before flattening
            val body = """(?is)^cast\s*\(([\s\S]*)\s+as\s+\w+\s*\)$""".r
              .findFirstMatchIn(t).map(_.group(1)).getOrElse(t)
            val toks = unmaskLiterals(body, lits).toLowerCase
              .replaceAll("[^a-z0-9]", " ").trim.replaceAll("\\s+", "_")
            val cut = if (toks.length > 20) toks.substring(0, 20) else toks
            s"${cut}_$pos"
          } else s"$label$pos"
        s"$raw AS `$alias`"
      }
    }
    if (!changed) return q
    unmaskLiterals(
      m.group(1) + Option(m.group(2)).getOrElse("") +
        aliased.mkString(",") + tail, lits)
  }

  /** Runs one HiveQL statement through the session's one statement path,
    * [[plans.HiveDialectParser]] — the same as raw `spark.sql` and JDBC. */
  def sql(spark: SparkSession, q: String): DataFrame = {
    plans.HiveDialectParser.of(spark)
    spark.sql(q)
  }

  /** A statement graft submits while running another one (the native half
    * of a dialect form, a post-hook's metadata update, a retry): only
    * substitution and the static rewrites, no dispatch, checks or
    * post-hooks, so it cannot recurse into the statement that issued it. */
  private[graft] def native(spark: SparkSession, text: String): DataFrame = {
    val outer = bypassStatements.get
    bypassStatements.set(true)
    try spark.sql(text) finally bypassStatements.set(outer)
  }

  private val bypassStatements = ThreadLocal.withInitial[Boolean](() => false)

  /** Whether the current thread is inside [[native]]. */
  private[graft] def inNative: Boolean = bypassStatements.get

  /** A statement's text passes, before it is classified and parsed.
    * bashSafeScriptArgs runs OUTERMOST: it introduces escaped quotes into
    * USING literals that the other TRANSFORM passes' `[^']+` matchers must
    * never see. */
  private[graft] def prepare(spark: SparkSession, rawQ: String): String =
    bashSafeScriptArgs(restCaptureDefaultTransform(
      absorbTransformRemainder(spark,
      wrapPartialConsumption(spark, injectScriptEnv(spark,
        resolveScriptPaths(spark,
          resolveSplitSampling(spark,
            resolveBucketFileSampling(spark,
              resolveDefaultSampleCols(spark,
                applyDefaultFileFormat(spark,
                  autogenCtasAliases(spark,
                    applyTestMode(spark,
                      stripLocationPattern(substituteVars(spark, rawQ))))))))))))))

  private def masked(q: String): (String, IndexedSeq[String]) =
    try maskLiterals(q) catch { case _: IllegalArgumentException => (q, IndexedSeq.empty[String]) }

  // native statements with empty output that may carry post-hooks: INSERT
  // (also FROM/WITH ... INSERT), CREATE, DROP, ALTER TABLE ... ADD
  // PARTITION. Queries, SET, SHOW, DESCRIBE and EXPLAIN run as planned.
  private val LeadingComments = "^(?:\\s+|--[^\n]*|\u0001\\d+\u0001)*".r
  private val WriteStatement =
    ("""(?is)^(?:INSERT\b|CREATE\b|DROP\b|(?:FROM|WITH)\b.*\bINSERT\s+(?:INTO|OVERWRITE)\b|""" +
      """ALTER\s+TABLE\s+\S+\s+ADD\s+(?:IF\s+NOT\s+EXISTS\s+)?PARTITION\b)""").r

  private[graft] def isWrite(q: String): Boolean =
    WriteStatement.findFirstIn(LeadingComments.replaceFirstIn(masked(q)._1, "")).isDefined

  /** A statement's semantic checks, after authorization and protect mode,
    * over its text and its refs. */
  private[graft] def checkStatement(spark: SparkSession, q: String,
      refs: plans.StatementRefs): Unit = {
    val maskedQ = masked(q)._1
    // HOLD_DDLTIME hint (Hive.g:1499 TOK_HOLD_DDLTIME; SemanticAnalyzer
    // .checkHoldDDLTime): rejected for dynamic or non-existent partitions
    // with the reference's exact message (ErrorMsg.java:170)
    if (HoldDdltime.findFirstIn(maskedQ).isDefined) checkHoldDdltime(spark, refs.writes)
    checkSemanticHooksPre(spark, maskedQ)
    updateInputAccessTime(spark, refs.reads)
    checkSampleBounds(spark, maskedQ)
    plans.StrictMode.check(spark, refs)
    checkReservedPartitionNames(spark, q)
    checkInsertLockConflicts(spark, refs.writeTables)
    checkExecHookClasses(spark)
    // DDLSemanticAnalyzer archive checks (archive3/4.q): exactly one
    // PARTITION clause
    if ("""(?is)^\s*ALTER\s+TABLE\s+[\w.]+\s+(?:UN)?ARCHIVE\s+PARTITION[\s\S]*PARTITION""".r
        .findFirstIn(maskedQ).isDefined)
      throw new IllegalArgumentException(
        "ARCHIVE can only be run on a single partition")
    // SemanticAnalyzer's duplicate-output check (duplicate_insert1–3.q):
    // two INSERTs of one statement may not write the same table+partition
    // or directory
    val outputs = refs.writes.map(w => w.table.unquotedString ->
      (w.table.unquotedString.toLowerCase, w.spec.map { case (k, v) => k.toLowerCase -> v })) ++
      refs.dirs.map(d => d -> (d, Map.empty[String, Option[String]]))
    outputs.groupBy(_._2).collectFirst { case (_, g) if g.size > 1 => g.head._1 }
      .foreach(o => throw new IllegalArgumentException(
        s"The same output cannot be present multiple times: $o"))
    // CREATE OR REPLACE VIEW may not add/drop partition columns while
    // partitions exist (create_or_replace_view1/2.q)
    """(?is)^\s*CREATE\s+OR\s+REPLACE\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)""".r
      .findFirstMatchIn(maskedQ).foreach { m =>
        val hasPartClause =
          """(?is)PARTITIONED\s+ON""".r.findFirstIn(maskedQ).isDefined
        val meta = try Some(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(m.group(1))))
        catch { case _: Exception => None }
        val hadParts = meta.exists(_.properties.get(ViewPartsKey).exists(_.nonEmpty))
        if (hadParts && meta.exists(_.properties.contains(ViewPartColsKey)) != hasPartClause)
          throw new IllegalArgumentException(
            "Cannot add or drop partition columns with CREATE OR REPLACE " +
              "VIEW if partitions currently exist")
      }
  }

  /** Runs a native write/DDL's parsed plan with Hive's self-read overwrite
    * and store-assignment semantics; a multi-insert's branches share one
    * scan of their source. */
  private[graft] def runWrite(spark: SparkSession, q: String, plan: LogicalPlan): Unit =
    plan match {
      case u: Union if u.children.forall(b =>
          b.isInstanceOf[InsertIntoStatement] || b.isInstanceOf[InsertIntoDir]) =>
        operators.MultiInsert.run(spark, u.children)
      case _ =>
        withSelfReadOverwriteRetry(spark, q)(withLegacyStoreRetry(spark)(
          _.sessionState.executePlan(plan).assertCommandExecuted()))
    }

  /** Runs a non-query statement, then its post-hooks (the metastore side
    * effects of the reference's MoveTask/StatsTask/DDLTask). */
  private[graft] def runStatement(spark: SparkSession, q: String, rawQ: String,
      refs: plans.StatementRefs)(run: SparkSession => Unit): Unit = {
    val maskedQ = masked(q)._1
    // tables contained in a database about to be dropped, captured while
    // the catalog can still list them — the post-drop grant/protect
    // cascade below needs the names (ADVICE r16 #4)
    val droppedDbTables: Seq[String] =
      DropDatabaseStmt.findFirstMatchIn(maskedQ).toSeq.flatMap { m =>
        if (!spark.catalog.databaseExists(m.group(1))) Seq.empty
        else try spark.catalog.listTables(m.group(1)).collect()
          .map(_.name).toSeq
        catch { case _: Exception => Seq.empty[String] }
      }
    run(spark)
    // an INSERT refreshes the dest table's transient_lastDdlTime (the
    // metastore update loadTable/loadPartition performs) unless the
    // HOLD_DDLTIME hint suppresses it
    if (HoldDdltime.findFirstIn(maskedQ).isEmpty) bumpInsertTargets(spark, refs.writeTables)
    mergeSmallFiles(spark, refs.writes)
    autogatherStats(spark, refs.writes)
    applyDefaultTableParams(spark, maskedQ)
    applySemanticHooksPost(spark, maskedQ)
    recordLocationPattern(spark, rawQ)
    resolvePatternedPartitions(spark, maskedQ)
    // a DROPPED database takes its DB-scoped grants with it (ObjectStore
    // .dropDatabase removes the DB_PRIVS rows), and its tables' grants
    // and protect flags cascade (TBL_PRIVS / TABLE_PARAMS rows die with
    // the tables) — without this, recreating the database in a later JVM
    // hits 'already granted' on the re-grant. Scoped to DB-typed rows +
    // the captured table list, NOT every objName equal to the db name
    // (ADVICE r16 #4: a same-named table elsewhere must keep its grant).
    DropDatabaseStmt.findFirstMatchIn(maskedQ).foreach { m =>
      if (!spark.catalog.databaseExists(m.group(1))) {
        Authz.forgetDatabase(spark, m.group(1), droppedDbTables)
        droppedDbTables.foreach { t =>
          Protect.clearTable(spark, m.group(1) + "." + t)
          val stillThere =
            try spark.catalog.tableExists(t) catch { case _: Exception => false }
          if (!stillThere) Protect.clearTable(spark, t)
        }
      }
    }
  }

  // ---- Path patterns in table locations (HIVE-1707's `location
  // 'dir{**/*.data}'`, patterned_partition.q): the `{pattern}` suffix is
  // stripped from the physical location at CREATE and recorded as a table
  // property; after ADD PARTITION, a partition whose files live DEEPER
  // than its directory (matched by the pattern) gets its location
  // repointed at the matched files' directory, so plain partitioned scans
  // read exactly the pattern's file set.
  private def stripLocationPattern(q: String): String =
    if (!q.contains("{")) q
    else """(?is)(LOCATION\s+')([^'{]*)\{[^}']*\}([^']*)(')""".r.replaceAllIn(q,
      mm => java.util.regex.Matcher.quoteReplacement(
        mm.group(1) + mm.group(2) + mm.group(4)))

  private val PatternedLocationCreate =
    ("""(?is)^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.]+)[\s\S]*LOCATION\s+'[^'{]*\{([^}']*)\}[^']*'""").r

  private def recordLocationPattern(spark: SparkSession, rawQ: String): Unit =
    PatternedLocationCreate.findFirstMatchIn(rawQ).foreach { m =>
      try {
        val ti = TableIdentifier(m.group(1).split('.').last,
          m.group(1).split('.').dropRight(1).lastOption)
        val meta = spark.sessionState.catalog.getTableMetadata(ti)
        spark.sessionState.catalog.alterTable(meta.copy(properties =
          meta.properties + ("graft.hive.path.pattern" -> m.group(2))))
      } catch { case _: Exception => }
    }

  private def resolvePatternedPartitions(spark: SparkSession, masked: String): Unit = {
    val m = """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?:IF\s+NOT\s+EXISTS\s+)?PARTITION""".r
      .findFirstMatchIn(masked).getOrElse(return)
    val ti = TableIdentifier(m.group(1).split('.').last,
      m.group(1).split('.').dropRight(1).lastOption)
    val cat = spark.sessionState.catalog
    val meta = try cat.getTableMetadata(ti) catch { case _: Exception => return }
    val pat = meta.properties.getOrElse("graft.hive.path.pattern", return)
    // supported shape: any '**/'-style recursion ending in a filename glob
    val fileGlob = pat.stripPrefix("/").split('/').last
    val re = java.util.regex.Pattern.compile(
      fileGlob.replace(".", "\\.").replace("*", ".*").replace("?", "."))
    val conf = spark.sparkContext.hadoopConfiguration
    val updated = cat.listPartitions(ti).flatMap { p =>
      val loc = new org.apache.hadoop.fs.Path(p.location)
      val fs = loc.getFileSystem(conf)
      if (!fs.exists(loc)) None
      else {
        def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
          fs.listStatus(d).toSeq.flatMap { st =>
            if (st.isDirectory) walk(st.getPath)
            else if (re.matcher(st.getPath.getName).matches()) Seq(st.getPath)
            else Nil
          }
        walk(loc).map(_.getParent).distinct match {
          case Seq(one) if one != loc =>
            Some(p.copy(storage = p.storage.copy(locationUri = Some(one.toUri))))
          case _ => None
        }
      }
    }
    if (updated.nonEmpty) cat.alterPartitions(ti, updated)
  }

  // ---- hive.semantic.analyzer.hook shim (multi_sahooks.q): the
  // reference's two in-tree test hooks edit the CREATE TABLE descriptor's
  // properties in listed order (last postAnalyze wins); Hook1 numbers its
  // instances with a per-statement counter. Unknown classes refuse loudly,
  // like the reference's reflective load would.
  private val SemHook1 =
    "org.apache.hadoop.hive.ql.metadata.DummySemanticAnalyzerHook1"
  private val SemHook =
    "org.apache.hadoop.hive.ql.metadata.DummySemanticAnalyzerHook"
  private val CreatedByHook =
    "org.apache.hadoop.hive.ql.metadata.DummyCreateTableHook"

  private def semanticHooks(spark: SparkSession): Seq[String] =
    spark.conf.getOption("hive.semantic.analyzer.hook")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  private def checkSemanticHooksPre(spark: SparkSession, masked: String): Unit = {
    val hooks = semanticHooks(spark)
    if (hooks.isEmpty) return
    hooks.find(h => h != SemHook1 && h != SemHook).foreach(h =>
      throw new IllegalArgumentException(s"hive.semantic.analyzer.hook: $h not found"))
    if (hooks.contains(SemHook)) {
      val up = masked.trim.toUpperCase
      val isCreate = up.startsWith("CREATE TABLE") || up.startsWith("CREATE EXTERNAL TABLE")
      // DummyCreateTableHook.preAnalyze rejects CTAS
      if (isCreate && """(?is)\bAS\s+SELECT\b""".r.findFirstIn(masked).isDefined)
        throw new IllegalArgumentException("CTAS not supported.")
      // DummySemanticAnalyzerHook.preAnalyze allows only create/drop/desc
      if (!isCreate && !up.startsWith("DROP TABLE") && !up.startsWith("DESC") &&
          !up.startsWith("DESCRIBE") && !up.startsWith("SET "))
        throw new IllegalArgumentException("Operation not supported.")
    }
  }

  private def applySemanticHooksPost(spark: SparkSession, masked: String): Unit = {
    val hooks = semanticHooks(spark)
    if (hooks.isEmpty) return
    val created = """(?is)^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)"""
      .r.findFirstMatchIn(masked).map(_.group(1)).getOrElse(return)
    // preAnalyze pass assigns Hook1 instance counts in listed order
    var count = 0
    var props = Map.empty[String, String]
    hooks.foreach {
      case SemHook1 =>
        props += "createdBy" -> CreatedByHook
        props += "Message" -> s"Hive rocks!! Count: $count"
        count += 1
      case SemHook =>
        props += "createdBy" -> CreatedByHook
        props += "Message" -> "Open Source rocks!!"
      case _ =>
    }
    if (props.isEmpty) return
    try {
      val ti = TableIdentifier(created.split('.').last,
        created.split('.').dropRight(1).lastOption)
      val meta = spark.sessionState.catalog.getTableMetadata(ti)
      spark.sessionState.catalog.alterTable(
        meta.copy(properties = meta.properties ++ props))
    } catch { case _: Exception => }
  }

  // ---- TABLESAMPLE bound checks (SemanticAnalyzer.java sample-clause
  // validation; clientnegative sample.q / split_sample_out_of_range.q /
  // split_sample_wrong_format.q). The misspellings are the reference's own
  // error text.
  private val AnyBucketSample =
    """(?i)TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)""".r
  private val AnyPercentSample =
    """(?i)TABLESAMPLE\s*\(\s*([0-9.]+)\s+PERCENT\s*\)""".r

  private def checkSampleBounds(spark: SparkSession, masked: String): Unit = {
    if (!masked.toUpperCase.contains("TABLESAMPLE")) return
    AnyBucketSample.findAllMatchIn(masked).foreach { m =>
      if (m.group(1).toInt > m.group(2).toInt)
        throw new IllegalArgumentException(
          "Numberator should not be bigger than denaminator in sample clause")
    }
    AnyPercentSample.findAllMatchIn(masked).foreach { m =>
      val pct = m.group(1).toDouble
      if (pct < 0 || pct > 100)
        throw new IllegalArgumentException(
          "Sampling percentage should be between 0 and 100")
      val inputFormat = spark.conf.getOption("hive.input.format").getOrElse("")
      if (inputFormat.endsWith(".HiveInputFormat"))
        throw new IllegalArgumentException(
          s"Percentage sampling is not supported in $inputFormat")
    }
  }

  // ---- Reserved partition-value substrings (DDLSemanticAnalyzer
  // validatePartitionValues — default_partition_name.q, archive5.q): the
  // default-partition sentinel is always reserved; the archive
  // intermediate markers only while hive.archive.enabled=true.
  private val AddPartValues =
    """(?is)^\s*ALTER\s+TABLE\s+[\w.]+\s+ADD\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:PARTITION\s*\([^)]*\)\s*(?:LOCATION\s+'[^']*'\s*)?)+)""".r

  private def checkReservedPartitionNames(spark: SparkSession, q: String): Unit =
    AddPartValues.findFirstMatchIn(q).foreach { m =>
      val archiveOn = spark.conf.getOption("hive.archive.enabled")
        .exists(_.trim.equalsIgnoreCase("true"))
      // the reserved sentinel is the CONFIGURED default-partition name
      // (clientpositive default_partition_name.q re-points the conf and
      // then legally ADDs the literal __HIVE_DEFAULT_PARTITION__)
      val defaultPart = spark.conf
        .getOption("hive.exec.default.partition.name")
        .map(_.trim.stripPrefix("'").stripSuffix("'"))
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
      val reserved = Seq(defaultPart) ++
        (if (archiveOn) Seq("_INTERMEDIATE_ORIGINAL", "_INTERMEDIATE_EXTRACTED",
          "_INTERMEDIATE_ARCHIVED") else Nil)
      """\(([^)]*)\)""".r.findAllMatchIn(m.group(1))
        .flatMap(g => sources.HiveExim.parsePartSpec(g.group(1)))
        .collect { case (_, Some(v)) => v }
        .foreach { v =>
          reserved.find(v.contains).foreach(r =>
            throw new IllegalArgumentException(
              s"Partition value contains a reserved substring (User value: $v " +
                s"Reserved substring: $r)"))
        }
    }

  // ---- Implicit write-lock conflict (Driver.acquireReadWriteLocks —
  // insert_into1-4.q): an INSERT whose target (or target partition) holds
  // ANY lock refuses like the reference's retry-exhausted acquisition.
  // Only fires when the session's lock manager actually holds locks, so
  // un-locked workloads never pay the check.
  private def checkInsertLockConflicts(spark: SparkSession, targets: Seq[TableIdentifier]): Unit =
    targets.foreach { t =>
      val me = Locks.owner(spark)
      val held = Locks.manager.getLocks(Some(Locks.lockName(spark, t.unquotedString)))
      // the statement's OWN implicit lock (withStatementLocks acquires it
      // before compile) never conflicts — Driver.acquireReadWriteLocks only
      // blocks on locks it did not take itself (lock1-3.q run inserts fine
      // with concurrency on); explicit locks and other sessions' locks do
      if (held.exists(h => h.data.lockMode == "EXPLICIT" || h.owner != me))
        throw new IllegalStateException(
          "Locks on the underlying objects cannot be acquired. " +
            "retry after some time")
    }

  // ---- hive.exec.{pre,post}.hooks class validation (bad_exec_hooks.q):
  // the reference loads each hook class reflectively and fails on an
  // unknown one; engine hooks are the reference's own ql.hooks classes.
  private def checkExecHookClasses(spark: SparkSession): Unit =
    Seq("hive.exec.pre.hooks", "hive.exec.post.hooks").foreach { k =>
      spark.conf.getOption(k).getOrElse("").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        .foreach { cls =>
          if (!cls.startsWith("org.apache.hadoop.hive.ql.hooks."))
            throw new IllegalArgumentException(
              s"""Hive Internal Error: java.lang.ClassNotFoundException("$cls")""")
        }
    }

  private val DropDatabaseStmt =
    """(?is)^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?([\w]+)""".r

  // ---- DROP TABLE over ARCHIVED partitions: Spark's catalog drop deletes
  // each partition path, and a `har:` URI is not deletable through the
  // HarFileSystem. The reference drops archived tables fine (the har file
  // lives INSIDE the table dir) — repoint har partitions at their physical
  // directories first, so the recursive table-dir delete takes everything.
  private def repointArchivedForDrop(spark: SparkSession, table: String): Unit =
    try {
      val ti = TableIdentifier(table.split('.').last,
        table.split('.').dropRight(1).lastOption)
      val cat = spark.sessionState.catalog
      val meta = cat.getTableMetadata(ti)
      if (meta.partitionColumnNames.nonEmpty) {
        val harParts = cat.listPartitions(ti)
          .filter(p => Option(p.location.getScheme).contains("har"))
        if (harParts.nonEmpty) {
          val base = new org.apache.hadoop.fs.Path(meta.location)
          cat.alterPartitions(ti, harParts.map { p =>
            val phys = meta.partitionColumnNames.foldLeft(base)((acc, c) =>
              new org.apache.hadoop.fs.Path(acc,
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .getPartitionPathString(c, p.spec(c))))
            p.copy(storage = p.storage.copy(locationUri = Some(phys.toUri)))
          })
        }
      }
    } catch { case _: Exception => }

  // ---- UpdateInputAccessTimeHook.PreExec shim (updateAccessTime.q): when
  // listed in hive.exec.pre.hooks, every input table of a query gets its
  // lastAccessTime stamped before execution.
  private def updateInputAccessTime(spark: SparkSession, inputs: Seq[TableIdentifier]): Unit = {
    if (!spark.conf.getOption("hive.exec.pre.hooks").exists(
        _.contains("UpdateInputAccessTimeHook"))) return
    val now = System.currentTimeMillis()
    inputs.foreach { ti =>
      try {
        val meta = spark.sessionState.catalog.getTableMetadata(ti)
        spark.sessionState.catalog.alterTable(meta.copy(lastAccessTime = now))
      } catch { case _: Exception => }
    }
  }

  private val DropViewIfExists =
    """(?is)^\s*DROP\s+VIEW\s+IF\s+EXISTS\s+([\w.]+)\s*;?\s*$""".r

  // CREATE VIEW v(c1 [COMMENT ...], c2) [TBLPROPERTIES ...] AS body —
  // Hive names the output columns FROM THE LIST (Hive.g createViewStatement
  // columnNameCommentList), so the body's expressions need no aliases;
  // Spark refuses unaliased expressions in permanent views. Lowered to a
  // wrapper select that aliases the body's output positionally.
  private val CreateViewCols =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.]+)\s*\(([^)]*)\)\s*(TBLPROPERTIES\s*\([^)]*\))?\s*AS\s+(.*?)\s*;?\s*$""").r

  private def createViewWithColumnList(spark: SparkSession, q: String): Unit = {
    val (masked, lits) = maskLiterals(q)
    val m = CreateViewCols.findFirstMatchIn(masked).getOrElse(
      throw new IllegalStateException("view column-list shape vanished"))
    val name = m.group(1)
    // names are the first word of each comma item; COMMENT literals are
    // placeholders here so commas inside them cannot split
    val names = m.group(2).split(',').toSeq.map(_.trim)
      .filter(_.nonEmpty).map(_.split("\\s+")(0))
    val props = Option(m.group(3)).map(p => " " + unmaskLiterals(p, lits)).getOrElse("")
    val body = unmaskLiterals(m.group(4), lits)
    val out = native(spark, body).schema.fieldNames
    require(out.length == names.length,
      s"view $name declares ${names.length} columns but its body yields ${out.length}")
    val sel = out.zip(names).map { case (o, n) => s"`$o` AS $n" }.mkString(", ")
    native(spark, s"CREATE VIEW $name$props AS SELECT $sel FROM ($body) graft_vw")
  }

  private val CreateTableName =
    ("""(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?(?:EXTERNAL\s+)?TABLE\s+""" +
      """(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)""").r

  /** `hive.table.parameters.default=k1=v1,k2=v2...` (HiveConf
    * NEWTABLEDEFAULTPARA; create_default_prop.q): every CREATE TABLE —
    * plain, LIKE, CTAS — lands the listed properties on the new table.
    * Values may themselves contain '=' (split on the FIRST only). */
  private def applyDefaultTableParams(spark: SparkSession, masked: String): Unit = {
    val conf = spark.conf.getOption("hive.table.parameters.default")
      .map(_.trim).filter(_.nonEmpty).getOrElse(return)
    val name = CreateTableName.findFirstMatchIn(masked)
      .map(_.group(1)).getOrElse(return)
    if (masked.matches("(?is)^\\s*CREATE\\s+TEMPORARY\\s.*")) return
    val pairs = conf.split(',').toSeq.map(_.split("=", 2))
      .collect { case Array(k, v) => k.trim -> v }
    if (pairs.isEmpty) return
    try {
      val cat = spark.sessionState.catalog
      val ti = spark.sessionState.sqlParser.parseTableIdentifier(stripTicks(name))
      val meta = cat.getTableMetadata(ti)
      cat.alterTable(meta.copy(properties = meta.properties ++ pairs))
    } catch { case scala.util.control.NonFatal(_) => () } // temp view etc.
  }

  /** The reference's conditional small-file merge job after an INSERT
    * (GenMRFileSink1.java ConditionalTask, gated by hive.merge.mapfiles /
    * hive.merge.mapredfiles + hive.merge.smallfiles.avgsize +
    * hive.merge.size.per.task): when the conf is SET true, each written
    * table/partition directory whose average file size is under the
    * threshold is rewritten through [[sources.Compaction]] (one rebalance
    * shuffle, write-audit-publish swap). Like autogather, activation needs
    * the explicit SET — Spark's write path already sizes output by task,
    * so the implicit Hive default would re-examine every insert for
    * nothing. Runs BEFORE autogatherStats so published numFiles/totalSize
    * describe the merged layout, same order as the reference's task DAG.
    */
  private def mergeSmallFiles(spark: SparkSession, writes: Seq[Write]): Unit = {
    val on = Seq("hive.merge.mapfiles", "hive.merge.mapredfiles")
      .exists(k => spark.conf.getOption(k).exists(_.trim.equalsIgnoreCase("true")))
    if (!on) return
    // HiveConf 0.8 defaults: avgsize 16 MB, size.per.task 256 MB
    val avg = spark.conf.getOption("hive.merge.smallfiles.avgsize")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(16L * 1024 * 1024)
    val per = spark.conf.getOption("hive.merge.size.per.task")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(256L * 1024 * 1024)
    val cat = spark.sessionState.catalog
    writes.foreach { case Write(ti, spec) =>
      try {
        val meta = cat.getTableMetadata(ti)
        val provider = meta.provider.getOrElse("parquet")
        // hetero tables mix formats per partition — a bulk rewrite would
        // re-serialize old partitions into the current format; skip (the
        // reference merges within one partition's own format). Bucketed
        // tables are skipped too: Compaction rewrites via plain
        // .write.save(), whose files carry no Spark bucket-id markers —
        // a merged bucketed table would silently read empty/misassigned
        // under bucketed scans (the HiveLoad demotion failure mode). The
        // reference's MR merge preserves bucket files for the same reason
        // (it merges per-bucket); a per-bucket merge here buys nothing
        // Spark's own write-path sizing doesn't already do.
        if (provider != "graft.sources.HiveHeteroSource" &&
            meta.bucketSpec.isEmpty) {
          val (fmt, schemaOpt) =
            if (provider.startsWith("graft.sources.Hive"))
              (provider, Some(org.apache.spark.sql.types.StructType(
                meta.schema.filterNot(f =>
                  meta.partitionColumnNames.contains(f.name)))))
            else (provider, None)
          // a STATIC partition spec scopes the merge to the partitions it
          // pins (O(written unit), like gatherStats) — only a dynamic or
          // absent spec walks the whole table directory
          val dirs: Seq[String] =
            if (meta.partitionColumnNames.nonEmpty && spec.nonEmpty &&
                spec.values.forall(_.isDefined))
              cat.listPartitions(ti, Some(staticSpec(meta, spec)))
                .map(p => new org.apache.hadoop.fs.Path(p.location).toString)
            else Seq(new org.apache.hadoop.fs.Path(meta.location).toString)
          val merged = dirs.map(d => sources.Compaction.compactIfFragmented(
            spark, d, per, avg, fmt, schemaOpt, meta.storage.properties))
          if (merged.contains(true)) spark.catalog.refreshTable(ti.quotedString)
        }
      } catch { case scala.util.control.NonFatal(_) => } // temp views etc.
    }
  }

  // the hint sits in Hive's hint position (after SELECT); strip happens in
  // rewriteMasked like STREAMTABLE, detection in the statement checks and
  // post-hooks above
  private val HoldDdltime = """(?i)/\*\+\s*HOLD_DDLTIME\s*\*/""".r

  /** A write's static partition values keyed by the table's own column
    * spelling (Hive resolves partition-spec keys case-insensitively,
    * stats3.q); dynamic columns are dropped. */
  private def staticSpec(meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      spec: Map[String, Option[String]]): Map[String, String] = {
    val byLower = meta.partitionColumnNames.map(c => c.toLowerCase -> c).toMap
    spec.collect { case (k, Some(v)) => byLower.getOrElse(k.toLowerCase, k) -> v }
  }

  /** SemanticAnalyzer.java:3720,3859: HOLD_DDLTIME is illegal on a dynamic
    * partition spec and on a static partition that does not already exist.
    */
  private def checkHoldDdltime(spark: SparkSession, writes: Seq[Write]): Unit =
    writes.filter(_.spec.nonEmpty).foreach { w =>
      val cat = spark.sessionState.catalog
      val exists = w.spec.values.forall(_.isDefined) && (try cat.listPartitionNames(
          w.table, Some(staticSpec(cat.getTableMetadata(w.table), w.spec))).nonEmpty
        catch { case scala.util.control.NonFatal(_) => false })
      if (!exists) throw new IllegalStateException(
        "HOLD_DDLTIME hint cannot be applied to dynamic partitions or " +
          "non-existent partitions")
    }

  /** The metastore side effect of a successful INSERT (Hive.loadTable /
    * loadPartition → alterTable): refresh the dest's transient_lastDdlTime.
    * Monotonic (max(now, prev+1)) so two inserts in one second still
    * observably differ; skipped under HOLD_DDLTIME. Temp-view targets have
    * no table properties — ignored.
    */
  private def bumpInsertTargets(spark: SparkSession, tables: Seq[TableIdentifier]): Unit =
    tables.foreach { t =>
      try Protect.setDdlTime(spark, t.quotedString)(prev =>
        math.max(System.currentTimeMillis() / 1000, prev + 1))
      catch { case _: org.apache.spark.sql.AnalysisException => } // temp view / missing
    }

  /** hive.stats.autogather (StatsTask.java:56; HiveConf 0.8 default TRUE):
    * every INSERT publishes numRows / rawDataSize / numFiles / totalSize
    * for the written unit, visible in DESCRIBE EXTENDED parameters and in
    * the catalog stats Catalyst's broadcast planning reads. The reference
    * piggybacks row counting on the write job's counters; Spark exposes no
    * such hook, so the count here is a second, column-pruned, PARTITION-
    * PRUNED count job over the written unit — O(delta), not O(table). The
    * table-level rollup for partitioned tables sums the per-partition
    * parameters (metadata-only, no scan). rawDataSize is recorded as the
    * on-disk byte size — for the text formats the file bytes ARE the row
    * bytes (the reference's serde-resident size needs its write-path
    * counter).
    */
  private def autogatherStats(spark: SparkSession, writes: Seq[Write]): Unit = {
    // the reference DEFAULTS the conf to true; here gathering activates on
    // an explicit SET — an implicit default would bill every insert in the
    // engine a second count job whether or not anyone reads the stats
    // (ANALYZE remains the on-demand path). The stats*.q family (and any
    // warehouse that reads Hive stats) sets the conf, same surface.
    if (!spark.conf.getOption("hive.stats.autogather")
        .exists(v => !v.trim.equalsIgnoreCase("false"))) return
    writes.foreach { w =>
      try gatherStats(spark, w.table.quotedString, w.spec.collect { case (k, Some(v)) => k -> v })
      catch { case scala.util.control.NonFatal(_) => } // temp-view target etc.
    }
  }

  /** StatsTask's unit of work: count + file-list the named table, or the
    * partitions a (possibly partial) spec pins, publish Hive's numRows /
    * rawDataSize / numFiles / totalSize parameters and the Spark catalog
    * stats Catalyst plans with. Partitioned tables also get the
    * metadata-only table-level rollup when every partition has stats. */
  private[graft] def gatherStats(spark: SparkSession, t: String,
      specKv: Map[String, String]): Unit = {
    val cat = spark.sessionState.catalog
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(t)
    val meta = cat.getTableMetadata(ti)
    val hconf = spark.sparkContext.hadoopConfiguration
    def fileStats(loc: java.net.URI): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) (0L, 0L)
      else {
        val files = fs.listStatus(p).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        (files.length.toLong, files.map(_.getLen).sum)
      }
    }
    def params(rows: Long, nf: Long, sz: Long) = Map(
      "numRows" -> rows.toString, "rawDataSize" -> sz.toString,
      "numFiles" -> nf.toString, "totalSize" -> sz.toString)
    if (meta.partitionColumnNames.isEmpty) {
      val rows = spark.table(t).count()
      val (nf, sz) = fileStats(meta.location)
      cat.alterTable(cat.getTableMetadata(ti).copy(
        stats = Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
          BigInt(sz), Some(BigInt(rows)))),
        properties = meta.properties ++ params(rows, nf, sz)))
    } else {
      // static keys pin partitions (partial specs match all completions);
      // no keys → every current partition of the target. Hive resolves
      // partition-spec KEY spellings case-insensitively (stats3.q writes
      // pcol1/pCol2 for the same columns) — values stay case-sensitive.
      val byLower = meta.partitionColumnNames.map(c => c.toLowerCase -> c).toMap
      val normKv = specKv.map { case (k, v) =>
        byLower.getOrElse(k.toLowerCase, k) -> v }
      val parts = cat.listPartitions(ti,
        if (normKv.nonEmpty) Some(normKv) else None)
      val updated = parts.map { p =>
        // Column equality, not a string predicate: values containing a
        // quote must not break the filter, and the default-partition
        // sentinel is a NULL value, never equal to its literal spelling
        val cond = p.spec.map { case (k, v) =>
          if (v == "__HIVE_DEFAULT_PARTITION__")
            org.apache.spark.sql.functions.col(k).isNull
          else org.apache.spark.sql.functions.col(k) ===
            org.apache.spark.sql.functions.lit(v)
        }.reduce(_ && _)
        val rows = spark.table(t).where(cond).count()
        val (nf, sz) = fileStats(p.location)
        p.copy(
          stats = Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            BigInt(sz), Some(BigInt(rows)))),
          parameters = p.parameters ++ params(rows, nf, sz))
      }
      if (updated.nonEmpty) cat.alterPartitions(ti, updated)
      // table-level rollup: metadata-only sum over partition parameters
      val all = cat.listPartitions(ti)
      if (all.nonEmpty && all.forall(_.parameters.contains("numRows"))) {
        val rows = all.map(_.parameters("numRows").toLong).sum
        val nf = all.map(_.parameters.getOrElse("numFiles", "0").toLong).sum
        val sz = all.map(_.parameters.getOrElse("totalSize", "0").toLong).sum
        cat.alterTable(cat.getTableMetadata(ti).copy(
          stats = Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            BigInt(sz), Some(BigInt(rows)))),
          properties = cat.getTableMetadata(ti).properties ++ params(rows, nf, sz)))
      }
    }
  }

  /** `ALTER TABLE t [PARTITION spec] CONCATENATE`: block-merge the unit's
    * files. Spark-first: ONE repartition rewrite sized from on-disk bytes
    * through [[sources.Compaction]] with the small-file threshold forced
    * (the reference's RCFile block merger runs unconditionally), published
    * write-audit-publish. `hive.exec.concatenate.check.index` (default
    * true) refuses when the table carries indexes — concatenation moves
    * block offsets, invalidating them (DDLSemanticAnalyzer
    * analyzeAlterTablePartMergeFiles) — and `=false` forces through, the
    * alter_concatenate_indexed_table.q contract.
    */
  private def alterConcatenate(spark: SparkSession, table: String,
      spec: Option[String]): Unit = {
    val cat = spark.sessionState.catalog
    val plain = stripTicks(table)
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(plain)
    val meta = cat.getTableMetadata(ti)
    // Bucketed layouts are positional (file k = bucket k): a plain block
    // merge destroys the layout while bucketSpec metadata still claims it,
    // so bucket-positional TABLESAMPLE and bucketed scans would silently
    // read wrong rows (DDLSemanticAnalyzer.java:1191 refuses the same way).
    if (hiveBucketSpec(meta).isDefined)
      throw new IllegalStateException(
        "Merge can not perform on bucketized partition/table.")
    // DDLSemanticAnalyzer: a partitioned table's CONCATENATE must name the
    // partition (clientnegative merge_negative_2.q) — an unqualified merge
    // over every partition is never what the statement said
    if (meta.partitionColumnNames.nonEmpty && spec.isEmpty)
      throw new IllegalStateException(
        "source table " + plain + " is partitioned but no partition desc found")
    val checkIdx = !spark.conf.getOption("hive.exec.concatenate.check.index")
      .exists(_.trim.equalsIgnoreCase("false"))
    if (checkIdx &&
        (try operators.Indexes.showIndexes(spark, plain).nonEmpty
         catch { case scala.util.control.NonFatal(_) => false }))
      throw new IllegalStateException(
        s"can not do merge because source table $plain is indexed")
    val provider = meta.provider.getOrElse("parquet")
    val (fmt, schemaOpt) =
      if (provider.startsWith("graft.sources.Hive"))
        (provider, Some(org.apache.spark.sql.types.StructType(
          meta.schema.filterNot(f =>
            meta.partitionColumnNames.contains(f.name)))))
      else (provider, None)
    val dirs: Seq[String] = spec match {
      case Some(sp) =>
        val kv = sources.HiveExim.parsePartSpec(sp)
          .collect { case (k, Some(v)) => k -> stripQuotes(v) }.toMap
        val byLower = meta.partitionColumnNames.map(c => c.toLowerCase -> c).toMap
        val norm = kv.map { case (k, v) =>
          byLower.getOrElse(k.toLowerCase, k) -> v }
        cat.listPartitions(ti, Some(norm))
          .map(p => new org.apache.hadoop.fs.Path(p.location).toString)
      case None => Seq(new org.apache.hadoop.fs.Path(meta.location).toString)
    }
    val per = spark.conf.getOption("hive.merge.size.per.task")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(256L * 1024 * 1024)
    dirs.foreach(d => sources.Compaction.compactIfFragmented(spark, d, per,
      Long.MaxValue, fmt, schemaOpt, meta.storage.properties))
    spark.catalog.refreshTable(plain)
  }

  /** `SHOW TABLE EXTENDED [IN db] LIKE pattern [PARTITION(spec)]` rows —
    * the reference's DDLTask.showTableStatus line set: one `tab_name`
    * string row per `key:value` line per matching table (thrift-DDL
    * column spelling, file census over the named unit's directory).
    */
  private def showTableExtended(spark: SparkSession, db: Option[String],
      pattern: String, spec: Option[String]): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val cat = spark.sessionState.catalog
    val database = db.getOrElse(spark.catalog.currentDatabase)
    val pat = stripQuotes(stripTicks(pattern))
    val names = cat.externalCatalog.listTables(database)
      .filter(t => t == pat || (try t.matches(pat)
        catch { case _: Exception => false })).sorted
    // DDLTask.showTableStatus with a PARTITION spec validates it against
    // the named table (clientnegative show_tablestatus.q /
    // show_tablestatus_not_existing_part.q)
    spec.foreach { sp =>
      names.foreach { t =>
        val meta = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t, Some(database)))
        if (meta.partitionColumnNames.isEmpty)
          throw new IllegalArgumentException(
            s"Table $t is not a partitioned table")
        val kv = sources.HiveExim.parsePartSpec(sp)
          .collect { case (k, Some(v)) => k -> stripQuotes(v) }.toMap
        val found = try cat.listPartitions(
          org.apache.spark.sql.catalyst.TableIdentifier(t, Some(database)),
          Some(kv)).nonEmpty catch { case _: Exception => false }
        if (!found) throw new IllegalArgumentException(
          s"Partition ${kv.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")} " +
            s"for table $t does not exist.")
      }
    }
    def thriftType(dt: DataType): String = dt match {
      case IntegerType => "i32"
      case LongType => "i64"
      case ShortType => "i16"
      case ByteType => "byte"
      case BooleanType => "bool"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case other => other.catalogString
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    names.flatMap { n =>
      val meta = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(n, Some(database)))
      val provider = meta.provider.getOrElse("parquet")
      val (inF, outF) = provider match {
        case "graft.sources.HiveTextSource" =>
          ("org.apache.hadoop.mapred.TextInputFormat",
            "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat")
        case "graft.sources.HiveRCSource" =>
          ("org.apache.hadoop.hive.ql.io.RCFileInputFormat",
            "org.apache.hadoop.hive.ql.io.RCFileOutputFormat")
        case "graft.sources.HiveSeqSource" =>
          ("org.apache.hadoop.mapred.SequenceFileInputFormat",
            "org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat")
        case p => (p, p)
      }
      val dataCols = meta.schema.filterNot(f =>
        meta.partitionColumnNames.contains(f.name))
      val partCols = meta.schema.filter(f =>
        meta.partitionColumnNames.contains(f.name))
      // the census unit: named partition > whole table tree
      val roots: Seq[org.apache.hadoop.fs.Path] = spec match {
        case Some(sp) =>
          val kv = sources.HiveExim.parsePartSpec(sp)
            .collect { case (k, Some(v)) => k -> stripQuotes(v) }.toMap
          val byLower = meta.partitionColumnNames.map(c => c.toLowerCase -> c).toMap
          val norm = kv.map { case (k, v) =>
            byLower.getOrElse(k.toLowerCase, k) -> v }
          cat.listPartitions(meta.identifier, Some(norm))
            .map(p => new org.apache.hadoop.fs.Path(p.location))
        case None => Seq(new org.apache.hadoop.fs.Path(meta.location))
      }
      var (nf, tot, mx, mn, newest) = (0L, 0L, 0L, Long.MaxValue, 0L)
      roots.foreach { r =>
        val fs = r.getFileSystem(hconf)
        if (fs.exists(r)) {
          val it = fs.listFiles(r, true)
          while (it.hasNext) {
            val st = it.next()
            if (!st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith(".")) {
              nf += 1; tot += st.getLen
              mx = math.max(mx, st.getLen); mn = math.min(mn, st.getLen)
              newest = math.max(newest, st.getModificationTime)
            }
          }
        }
      }
      if (nf == 0) mn = 0
      Seq(
        s"tableName:$n",
        s"owner:${meta.owner}",
        s"location:${roots.headOption.map(_.toString).getOrElse(meta.location.toString)}",
        s"inputformat:$inF",
        s"outputformat:$outF",
        "columns:struct columns { " +
          dataCols.map(f => s"${thriftType(f.dataType)} ${f.name}")
            .mkString(", ") + "}",
        s"partitioned:${meta.partitionColumnNames.nonEmpty}",
        "partitionColumns:" + (if (partCols.isEmpty) "" else
          "struct partition_columns { " +
            partCols.map(f => s"${thriftType(f.dataType)} ${f.name}")
              .mkString(", ") + "}"),
        s"totalNumberFiles:$nf",
        s"totalFileSize:$tot",
        s"maxFileSize:$mx",
        s"minFileSize:$mn",
        "lastAccessTime:0",
        s"lastUpdateTime:$newest"
      ).map(org.apache.spark.sql.Row(_))
    }
  }

  private[graft] def stripTicks(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.startsWith("`") && t.endsWith("`"))
      t.substring(1, t.length - 1)
    else t
  }

  private def stripQuotes(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))) t.substring(1, t.length - 1)
    else t
  }

  /** Hive-0.8 STORE-ASSIGNMENT semantics for HiveQL INSERTs: the reference
    * inserts through any type mismatch (LazySimpleSerDe re-parses text;
    * UDFToInteger returns null on malformed — q88's error-semantics
    * contract), while Spark's default ANSI store policy REJECTS e.g. the
    * STRING→INT dest casts every clientpositive insert relies on
    * (groupby1.q writes `src.key` into `key INT`). Retry-on-reject rather
    * than a global LEGACY flip: DataFrame-API writes keep Spark-native
    * safety, DSv2 writes (which disallow LEGACY) are untouched unless
    * they themselves fail the safety check, and the flip is restored even
    * on failure. The first failure happens at ANALYSIS, before any write,
    * so the retry never double-executes a side effect.
    */
  // one monitor per SparkSession: the fallback LEGACY flip below is
  // session-global state, so concurrent retries on the same session must
  // serialize or one thread's restore races another's flip (and could
  // re-save LEGACY as the "previous" value, leaking it permanently)
  private val storeRetryLocks =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  private[graft] def withLegacyStoreRetry[T](spark: SparkSession)(
      run: SparkSession => T): T =
    try run(spark) catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("CANNOT_SAFELY_CAST") =>
        // preferred isolation: the retry runs on a session CLONE (same
        // shared catalog AND temp views, cloneSession copies session
        // state) carrying LEGACY — a concurrent statement on the original
        // session never observes the flip. cloneSession is private[sql];
        // when unreachable, fall back to the serialized same-session flip.
        val cloned =
          try {
            val m = spark.getClass.getDeclaredMethod("cloneSession")
            m.setAccessible(true)
            Some(m.invoke(spark).asInstanceOf[SparkSession])
          } catch { case scala.util.control.NonFatal(_) => None }
        cloned match {
          case Some(c) =>
            c.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
            val before = c.sessionState.catalog.getTempViewNames().toSet
            val out = run(c)
            // temp views the retried statement registered live in the
            // throw-away clone's catalog — copy them back so later
            // statements on the original session can resolve them
            c.sessionState.catalog.getTempViewNames()
              .filterNot(before).foreach { name =>
                c.sessionState.catalog.getRawTempView(name).foreach { v =>
                  spark.sessionState.catalog.createTempView(name, v,
                    overrideIfExists = true)
                }
              }
            out
          case None =>
            val lock = storeRetryLocks.computeIfAbsent(spark, _ => new Object)
            lock.synchronized {
              val key = "spark.sql.storeAssignmentPolicy"
              val prev = spark.conf.getOption(key)
              spark.conf.set(key, "LEGACY")
              try run(spark)
              finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
            }
        }
    }

  /** ScriptOperator.java:274-277: every script operator exports an env var
    * (name from hive.script.operator.id.env.var, default
    * HIVE_SCRIPT_OPERATOR_ID, dots/dashes mangled to '_' per
    * safeEnvVarName) whose value uniquely identifies that operator
    * instance (script_env_var1.q asserts two TRANSFORMs in one statement
    * see different values). Spark's script transform runs the command via
    * `bash -c` but exports no such variable — prefix the command with an
    * `env VAR=SCR_n` assignment, one fresh n per USING occurrence. Masked
    * discipline as in [[resolveScriptPaths]]: a quoted `USING '<cmd>'` is
    * always a script command (datasource USING providers are unquoted).
    */
  private val scriptOpId = new java.util.concurrent.atomic.AtomicInteger(0)
  def injectScriptEnv(spark: SparkSession, q: String): String = {
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val hits = ("""(?i)\bUSING\s+(\d+)""").r
      .findAllMatchIn(masked).map(_.group(1).toInt).toSet
    if (hits.isEmpty) return q
    val envVar = spark.conf.getOption("hive.script.operator.id.env.var")
      .getOrElse("HIVE_SCRIPT_OPERATOR_ID").replaceAll("[.-]", "_")
    val newLits = lits.zipWithIndex.map { case (lit, i) =>
      if (!hits(i)) lit
      else {
        val quote = lit.head.toString
        val body = lit.stripPrefix(quote).stripSuffix(quote)
        s"${quote}env $envVar=SCR_${scriptOpId.incrementAndGet()} $body$quote"
      }
    }
    unmaskLiterals(masked, newLits)
  }

  /** ScriptOperator close/processOp tolerate a script that exits without
    * consuming its whole input ONLY under
    * hive.exec.script.allow.partial.consumption (script_pipe.q; default
    * false → the broken pipe fails the query, which Spark's writer thread
    * does natively). Under the conf, wrap the command in a subshell that
    * drains the remaining stdin after the script exits, so the producer
    * never sees EPIPE: `( cmd ; cat > /dev/null )`.
    */
  def wrapPartialConsumption(spark: SparkSession, q: String): String = {
    val pcConf = spark.conf
      .getOption("hive.exec.script.allow.partial.consumption")
      .map(_.trim.toLowerCase)
    if (!pcConf.contains("true") && !pcConf.contains("false")) return q
    val (masked, lits) =
      try maskLiterals(q) catch { case _: IllegalArgumentException => return q }
    val hits = ("""(?i)\bUSING\s+(\d+)""").r
      .findAllMatchIn(masked).map(_.group(1).toInt).toSet
    if (hits.isEmpty) return q
    val newLits = lits.zipWithIndex.map { case (lit, i) =>
      if (!hits(i)) lit
      else {
        val quote = lit.head.toString
        val body = lit.stripPrefix(quote).stripSuffix(quote)
        if (pcConf.contains("true"))
          // drain the remainder so the writer never breaks its pipe, but
          // preserve the SCRIPT's exit status: a bad exit code still
          // fails under partial consumption (script_broken_pipe3.q)
          s"$quote( $body ; rc=$$? ; cat > /dev/null ; exit $$rc )$quote"
        else
          // allow.partial.consumption=false (Hive's default, set
          // EXPLICITLY here): a script that exits leaving input behind is
          // an error (ScriptOperator's broken-pipe check --
          // script_broken_pipe2.q). Exit 20 marks the leftover.
          s"$quote( $body ; rc=$$? ; if IFS= read -r graft_leftover ; " +
            s"then exit 20 ; fi ; exit $$rc )$quote"
      }
    }
    unmaskLiterals(masked, newLits)
  }

  /** Hive TRANSFORM output columns with COMPLEX types parse from the
    * script's text through LazySimpleSerDe's separator ladder (^B between
    * array elements / map entries, ^C between map key and value —
    * transform1.q: `AS (col array<int>)` over the line `0^B1^B2` reads
    * [0,1,2]). Spark's script transform casts each field only through
    * atomic casts and yields NULL for complex columns. Rewrite: declare
    * the complex columns STRING inside the TRANSFORM and wrap the select
    * so an outer projection applies the ladder (split / str_to_map) and
    * casts to the declared type.
    */
  private val TransformComplexAs =
    ("""(?is)^(\s*(?:INSERT\s+(?:OVERWRITE\s+|INTO\s+)(?:TABLE\s+)?\S+\s+)?)""" +
      """SELECT\s+(TRANSFORM\s*\([^)]*\)\s*USING\s+\d+)\s+AS\s*\(([^)]*)\)\s+(FROM\s.*)$""").r
  private def splitTypeList(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case c @ ('<' | '(') => depth += 1; cur += c
      case c @ ('>' | ')') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    (out += cur.toString).result().map(_.trim).filter(_.nonEmpty)
  }
  private def expandTransformComplex(masked: String): String =
    TransformComplexAs.findFirstMatchIn(masked) match {
      case None => masked
      case Some(m) =>
        val cols = splitTypeList(m.group(3)).map { c =>
          val parts = c.split("\\s+", 2)
          (parts(0), parts.lift(1).getOrElse("STRING"))
        }
        if (!cols.exists(c => c._2.toLowerCase.startsWith("array") ||
            c._2.toLowerCase.startsWith("map"))) masked
        else {
          val inner = cols.map { case (n, ty) =>
            if (ty.toLowerCase.startsWith("array") ||
                ty.toLowerCase.startsWith("map")) s"$n STRING" else s"$n $ty"
          }.mkString(", ")
          val outer = cols.map { case (n, ty) =>
            val tl = ty.toLowerCase
            if (tl.startsWith("array")) {
              val elem = ty.substring(ty.indexOf('<') + 1, ty.lastIndexOf('>'))
              if (elem.contains("<")) throw new IllegalStateException(
                s"TRANSFORM output type $ty: nested complex elements unsupported")
              s"CASE WHEN $n IS NULL OR $n = '\\\\N' THEN NULL " +
                s"ELSE CAST(split($n, '') AS ARRAY<$elem>) END AS $n"
            } else if (tl.startsWith("map")) {
              val kv = ty.substring(ty.indexOf('<') + 1, ty.lastIndexOf('>'))
              if (kv.contains("<")) throw new IllegalStateException(
                s"TRANSFORM output type $ty: nested complex elements unsupported")
              s"CASE WHEN $n IS NULL OR $n = '\\\\N' THEN NULL " +
                s"ELSE CAST(str_to_map($n, '', '') AS MAP<$kv>) END AS $n"
            } else n
          }.mkString(", ")
          s"${m.group(1)}SELECT $outer FROM (SELECT ${m.group(2)} " +
            s"AS ($inner) ${m.group(4)}) graft_tx0"
        }
    }

  private val TransformUsing =
    """(?is)(TRANSFORM\s*\([^)]*\)\s*)USING\s+'([^']+)'(\s*AS\s*\(([^)]*)\))?""".r

  /** Hive's script-output reader hands the LAST declared column the entire
    * remainder of its line: LazySimpleSerDe parses N-1 delimiters and the
    * Nth column keeps any further tabs (input18.q: TRANSFORM of 4 exprs
    * through cat into the default (key, value) pair gives
    * value = 'val_x<tab>3<tab>7'). Spark's BaseScriptTransformationExec
    * splits EVERY field (String.split(fmt, -1)) and drops the extras.
    * Opt-in parity rewrite (SET graft.transform.absorbRemainder=true,
    * driver path): pipe the script through sed turning its first N-1 tabs
    * into \x02 and declare the output row format FIELDS TERMINATED BY
    * '\x02' — Spark then splits into exactly N fields and the last keeps
    * its real tabs. Skipped for commands carrying double quotes (wrapper
    * quoting would corrupt them) and serde/row-format forms.
    */
  private def absorbTransformRemainder(spark: SparkSession, q: String): String = {
    if (!spark.conf.getOption("graft.transform.absorbRemainder")
        .contains("true")) return q
    TransformUsing.replaceAllIn(q, m => {
      val cmd = m.group(2)
      val after = q.substring(m.end)
      if (cmd.contains("\"") ||
          after.matches("(?is)\\s*ROW\\s+FORMAT.*")) m.group(0)
      else {
        val cols = Option(m.group(4)).map(splitSources(_).map(_.trim))
          .getOrElse(Seq("key", "value"))
        // the sed expressions travel through Spark's SQL-literal unescape
        // (one backslash level) then bash double quotes, so the SQL text
        // carries \\t / \\x02 for sed to receive \t / \x02
        val seds = Seq.fill(cols.size - 1)("-e \"s/\\\\t/\\\\x02/\"")
          .mkString(" ")
        val wrapped =
          if (cols.size == 1) cmd else s"$cmd | sed $seds"
        // input side: Hive feeds scripts TAB-separated fields (its
        // transform LazySimpleSerDe default), while Spark's native default
        // is \\u0001 -- declare the Hive delimiter so ported scripts parse
        scala.util.matching.Regex.quoteReplacement(
          s"${m.group(1)}ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' " +
            s"USING '$wrapped' AS (${cols.mkString(", ")}) " +
            "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\u0002'")
      }
    })
  }

  /** Hive permits INSERT OVERWRITE of a table (or one partition of it)
    * whose SOURCE query reads the same table: MR fully materializes map
    * inputs before the MoveTask swaps the dest directory, so the read
    * always sees the pre-insert data (union22.q overwrites ds='2' from a
    * join that reads ds='1' of the same table). Spark's v1 insert rejects
    * ANY self-read at the table level (UNSUPPORTED_OVERWRITE.TABLE). Shim,
    * HiveQL statements only: on that exact error for a single INSERT OVERWRITE
    * TABLE statement, run the source query alone, materialize it
    * (`localCheckpoint` severs the plan's lineage against the dest
    * relation — the engine-level analogue of Hive's intermediate map
    * outputs), and re-run the INSERT over the snapshot. Hive semantics:
    * the read sees pre-insert data either way.
    */
  private val SelfReadInsert =
    ("""(?is)^\s*(INSERT\s+OVERWRITE\s+TABLE\s+(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*""" +
      """\s*(?:PARTITION\s*\([^)]*\))?)\s*(SELECT|FROM|\().*""").r
  private def withSelfReadOverwriteRetry(spark: SparkSession, q: String)(
      body: => Unit): Unit =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNSUPPORTED_OVERWRITE") =>
        val m = SelfReadInsert.findFirstMatchIn(q).getOrElse(throw e)
        val query = q.substring(m.end(1))
        val snap = withLegacyStoreRetry(spark)(native(_, query))
          .localCheckpoint(true)
        val tmp = "graft_self_read_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        snap.createOrReplaceTempView(tmp)
        try withLegacyStoreRetry(spark)(
          native(_, s"${m.group(1)} SELECT * FROM $tmp"))
        finally spark.catalog.dropTempView(tmp)
    }

  /** TOK_ALTERTABLE_RENAMECOL executor: rebuild the data schema with the
    * column renamed/retyped/recommented and repositioned (FIRST / AFTER c —
    * Hive's alterStatementSuffixRenameCol positions). Existing FILES are
    * not rewritten (Hive's contract exactly: the new schema reinterprets
    * old data at read time; mismatches surface as nulls through the
    * format's lazy decode).
    */
  private def changeColumn(spark: SparkSession, table: String, oldName: String,
      newName: String, typeStr: String, comment: Option[String],
      pos: Option[String]): Unit = {
    val parts = table.split('.')
    val ti =
      if (parts.length > 1)
        org.apache.spark.sql.catalyst.TableIdentifier(parts.last, Some(parts(parts.length - 2)))
      else org.apache.spark.sql.catalyst.TableIdentifier(table)
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ti)
    val fields = scala.collection.mutable.ArrayBuffer(meta.dataSchema.fields: _*)
    val idx = fields.indexWhere(_.name.equalsIgnoreCase(oldName))
    require(idx >= 0,
      s"Invalid column reference $oldName") // ErrorMsg INVALID_COLUMN
    require(newName.equalsIgnoreCase(oldName) ||
        !fields.exists(_.name.equalsIgnoreCase(newName)),
      s"Column $newName already exists")
    val dt = spark.sessionState.sqlParser.parseDataType(typeStr)
    var f = org.apache.spark.sql.types.StructField(newName, dt, nullable = true)
    comment.foreach(c => f = f.withComment(c))
    fields.remove(idx)
    pos.map(_.trim) match {
      case None => fields.insert(idx, f)
      case Some(p) if p.equalsIgnoreCase("FIRST") => fields.insert(0, f)
      case Some(p) =>
        val after = p.split("\\s+").last
        val ai = fields.indexWhere(_.name.equalsIgnoreCase(after))
        require(ai >= 0, s"Invalid column reference $after")
        fields.insert(ai + 1, f)
    }
    // alterTableDataSchema refuses renames ("dropping columns"); the
    // rename IS the operation here, so replace the metadata wholesale
    // (data schema first, partition columns after — CatalogTable.schema's
    // layout contract)
    cat.alterTable(meta.copy(schema = org.apache.spark.sql.types.StructType(
      fields.toSeq ++ meta.partitionSchema.fields)))
    spark.catalog.refreshTable(table)
  }

  /** Split a Hive column-spec list on top-level commas only: parens
    * (decimal(10,2)) and angle brackets (map<string,int>, nested structs)
    * both nest. Distinct from [[splitSources]], whose inputs are
    * expressions where a bare `<` is a comparison, not a bracket.
    */
  private def splitColumnSpecs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false // COMMENT 'text, with commas' must not split
    val cur = new StringBuilder
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case c if inQuote => cur += c
      case c @ ('(' | '<') => depth += 1; cur += c
      case c @ (')' | '>') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result()
  }

  /** TOK_ALTERTABLE_REPLACECOLS executor: the column list replaces the
    * data schema wholesale (partition columns untouched).
    */
  private def replaceColumns(spark: SparkSession, table: String,
      colsText: String, append: Boolean = false): Unit = {
    val parts = table.split('.')
    val ti =
      if (parts.length > 1)
        org.apache.spark.sql.catalyst.TableIdentifier(parts.last, Some(parts(parts.length - 2)))
      else org.apache.spark.sql.catalyst.TableIdentifier(table)
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ti)
    // depth-aware split: decimal(10,2) / map<string,int> carry commas of
    // their own; per-column COMMENT clauses are metadata Hive accepts and
    // the swap ignores (columnNameTypeList in Hive.g)
    // REPLACE/ADD COLUMNS may not name a partition column — the reference
    // refuses (clientnegative altern1.q "Partition column name ds conflicts")
    splitColumnSpecs(colsText).map(_.trim).filter(_.nonEmpty).foreach { c =>
      val cname = c.split("\\s+")(0).toLowerCase
      if (meta.partitionColumnNames.exists(_.equalsIgnoreCase(cname)))
        throw new IllegalArgumentException(
          s"Partition column name $cname conflicts with table columns")
    }
    val fields = splitColumnSpecs(colsText).map(_.trim).filter(_.nonEmpty).map { c =>
      val noComment =
        """(?is)\s+COMMENT\s+'[^']*'\s*$""".r.replaceAllIn(c, "").trim
      val bits = noComment.split("\\s+", 2)
      require(bits.length == 2, s"cannot parse column spec '$c'")
      org.apache.spark.sql.types.StructField(bits(0),
        spark.sessionState.sqlParser.parseDataType(bits(1)), nullable = true)
    }
    val dataFields =
      if (append) {
        val partNames = meta.partitionSchema.fieldNames.toSet
        meta.schema.fields.filterNot(f => partNames(f.name)).toSeq ++ fields
      } else fields.toSeq
    cat.alterTable(meta.copy(schema = org.apache.spark.sql.types.StructType(
      dataFields ++ meta.partitionSchema.fields)))
    spark.catalog.refreshTable(table)
  }

  /** ALTER TABLE [PARTITION] SET FILEFORMAT (AlterTableDesc ADDFILEFORMAT,
    * DDLTask.java alterTable): table-level converts the table to the
    * per-file-dispatching hivehetero format and records the new format as
    * the write default; partition-level is metadata (the partition's files
    * already self-describe — hivehetero reads dispatch on content), kept
    * for DESCRIBE surfaces, and validates the partition exists as Hive
    * does. */
  private def alterFileFormat(spark: SparkSession, table: String,
      partSpec: Option[String], fmt: String): Unit = {
    val norm = graft.sources.HiveHeteroSource.normalize(fmt)
    val cat = spark.sessionState.catalog
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ti)
    partSpec match {
      case Some(spec) =>
        val kv = sources.HiveExim.parsePartSpec(spec).map {
          case (k, Some(v)) => k -> v
          case (k, None) => throw new IllegalArgumentException(
            s"SET FILEFORMAT needs a full partition spec; $k has no value")
        }.toMap
        val p = cat.getPartition(ti, kv) // throws if absent, as Hive does
        cat.alterPartitions(ti, Seq(p.copy(storage = p.storage.copy(
          properties = p.storage.properties + ("graft.format" -> norm)))))
      case None =>
        val convertible = Set("parquet",
          "graft.sources.HiveTextSource", "graft.sources.HiveSeqSource",
          "graft.sources.HiveRCSource", "graft.sources.HiveHeteroSource")
        val prov = meta.provider.getOrElse("parquet")
        require(convertible(prov),
          s"ALTER TABLE SET FILEFORMAT: cannot convert provider $prov")
        cat.alterTable(meta.copy(
          provider = Some("graft.sources.HiveHeteroSource"),
          storage = meta.storage.copy(properties = meta.storage.properties +
            (graft.sources.HiveHeteroSource.WriteFormatKey -> norm))))
        spark.catalog.refreshTable(table)
    }
  }

  // SET system:k=v — SetProcessor's system namespace writes a JVM system
  // property (set_processor_namespaces.q); hiveconf:/hivevar: prefixes
  // strip to the plain conf key like the reference's VariableSubstitution
  private val SetSystemProp =
    """(?is)^\s*SET\s+system:([^=\s]+)\s*=\s*(.*?)\s*;?\s*$""".r

  // SET mapred.reduce.tasks=-1 — Hive 0.8's shipped default, "estimate
  // the reducer count" (HiveConf / MapRedTask.setNumberOfReducers). Spark
  // maps the key onto spark.sql.shuffle.partitions and rejects negatives;
  // graft's equivalent of "auto" is the count the session was built with
  // (Sessions.builder), which AQE then coalesces from runtime sizes.
  private val SetAutoReducers =
    """(?is)^\s*SET\s+(?:hiveconf:)?mapred\.reduce\.tasks\s*=\s*-1\s*;?\s*$""".r

  /** The non-SELECT statement surface (LOAD/EXPORT/IMPORT/TEMPORARY
    * FUNCTION/multi-insert/DDL the delegate cannot run as Hive does) as an
    * executor thunk, planned by [[plans.HiveDialectParser]] as a command.
    * None = not a statement form.
    */
  def statementExec(q: String): Option[SparkSession => Unit] =
    q match {
      case SetSystemProp(k, v) =>
        Some(_ => { System.setProperty(k.trim, v); () })
      case SetAutoReducers() =>
        Some(s => s.conf.set("spark.sql.shuffle.partitions",
          s.sparkContext.getConf.get("spark.sql.shuffle.partitions", Sessions.cpus)))
      case LoadData(local, path, overwrite, table, part) =>
        Some(s => {
          Authz.checkLoadTarget(s, table)
          Protect.checkLoadTarget(s, table, Option(part))
          sources.HiveLoad.loadData(s, path, table, overwrite != null,
            Option(part).map(sources.HiveExim.parsePartSpec).getOrElse(Nil),
            local = local != null)
        })
      case ExportTable(table, part, dir) =>
        Some(s => {
          // ExportSemanticAnalyzer marks the table a read entity — Select
          // required under enforcement (exim_22_export_authfail.q)
          if (Authz.enabled(s) &&
              !Authz.holds(s, Authz.currentUser(s), "Select", table))
            throw new SecurityException(
              s"Authorization failed:No privilege 'Select' found for inputs " +
                s"{ database:${s.catalog.currentDatabase}, table:$table}. " +
                "Use show grant to get more details.")
          sources.HiveExim.exportTable(s, table, dir,
            Option(part).map(sources.HiveExim.parsePartSpec).getOrElse(Nil))
        })
      case ImportTable(external, table, part, dir, location) =>
        Some(s => sources.HiveExim.importTable(s, Option(table), dir,
          Option(part).map(sources.HiveExim.parsePartSpec).getOrElse(Nil),
          external != null, Option(location)))
      case CreateFunc(name, className) =>
        Some(s => functions.GraftFunctions.registerAs(s, name, className))
      case DropFunc(ifExists, name) =>
        // FunctionTask refuses dropping an unknown function unless
        // IF EXISTS (clientnegative drop_function_failure.q)
        Some { s =>
          if (functions.GraftFunctions.isTemporary(name))
            functions.GraftFunctions.dropFunction(s, name)
          else {
            val native = s.sessionState.functionRegistry.functionExists(
              new org.apache.spark.sql.catalyst.FunctionIdentifier(name)) ||
              org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
                .functionExists(new org.apache.spark.sql.catalyst.FunctionIdentifier(name))
            if (native)
              // FunctionTask: natives cannot be dropped (drop_native_udf.q)
              throw new IllegalArgumentException(
                s"Cannot drop native function $name")
            else if (ifExists == null)
              throw new IllegalArgumentException(s"Invalid function $name")
          }
          ()
        }
      case CreateIndex(name, table, cols, handler, deferred, inTable, comment) =>
        Some(s => operators.Indexes.createIndex(s, stripTicks(name), table,
          cols.split(",").map(c => stripTicks(c.trim)).filter(_.nonEmpty).toSeq,
          handler, deferred != null, Option(comment),
          Option(inTable).map(stripTicks)))
      case AlterIndexProps(idx, table, pairs) =>
        Some { _ =>
          val it = s"default__${stripTicks(table).split('.').last}_${stripTicks(idx)}__"
          val kvs = """["']([^"']+)["']\s*=\s*["']([^"']*)["']""".r
            .findAllMatchIn(pairs).map(m => m.group(1) -> m.group(2)).toSeq
          operators.Indexes.setIdxProperties(it, kvs)
        }
      case ReplaceCols(table, cols) =>
        Some(s => replaceColumns(s, table, cols))
      case AddCols(table, cols) =>
        Some(s => replaceColumns(s, table, cols, append = true))
      case AlterRename(oldName, newName) =>
        Some { s =>
          val cat = s.sessionState.catalog
          val oldTi = org.apache.spark.sql.catalyst.TableIdentifier(oldName)
          val oldMeta = scala.util.Try(cat.getTableMetadata(oldTi)).toOption
          // ARCHIVED partitions (har: locations — archive.q's RENAME leg):
          // Spark's rename cannot move/delete a har: URI. Repoint each at
          // its physical spec-derived dir first; the .har travels WITH the
          // table directory, and the har pointer is restored below.
          def physDir(base: org.apache.hadoop.fs.Path,
              cols: Seq[String], spec: Map[String, String]) =
            cols.foldLeft(base)((acc, c) => new org.apache.hadoop.fs.Path(acc,
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString(c, spec(c))))
          val archivedSpecs = oldMeta.filter(_.partitionColumnNames.nonEmpty)
            .map { om =>
              val harParts = cat.listPartitions(oldTi)
                .filter(p => Option(p.location.getScheme).contains("har"))
              if (harParts.nonEmpty) {
                val base = new org.apache.hadoop.fs.Path(om.location)
                cat.alterPartitions(oldTi, harParts.map(p =>
                  p.copy(storage = p.storage.copy(locationUri = Some(
                    physDir(base, om.partitionColumnNames, p.spec).toUri)))))
              }
              harParts.map(_.spec)
            }.getOrElse(Nil)
          native(s, s"ALTER TABLE $oldName RENAME TO $newName")
          if (archivedSpecs.nonEmpty) {
            val newTi = org.apache.spark.sql.catalyst.TableIdentifier(newName)
            val nm = cat.getTableMetadata(newTi)
            val base = new org.apache.hadoop.fs.Path(nm.location)
            val hconf = s.sparkContext.hadoopConfiguration
            val restored = cat.listPartitions(newTi)
              .filter(p => archivedSpecs.contains(p.spec)).map { p =>
                val harDir = new org.apache.hadoop.fs.Path(
                  physDir(base, nm.partitionColumnNames, p.spec), "data.har")
                val uri = sources.HiveArchive.harUri(
                  harDir.getFileSystem(hconf), harDir)
                p.copy(storage = p.storage.copy(
                  locationUri = Some(new java.net.URI(uri))))
              }
            if (restored.nonEmpty) cat.alterPartitions(newTi, restored)
          }
          if (oldMeta.exists(_.partitionColumnNames.nonEmpty)) {
            // the in-memory catalog's rename re-encodes each partition
            // location's percent-escapes (':' -> %3A -> %25253A), leaving
            // them pointing at directories that don't exist (alter3.q's
            // post-rename reads come back empty). Self-heal: for any
            // partition whose location is GONE, regenerate the default
            // spec-derived path under the renamed table dir and keep it
            // only if THAT exists (custom external locations untouched).
            val newTi = org.apache.spark.sql.catalyst.TableIdentifier(newName)
            val meta = cat.getTableMetadata(newTi)
            val hconf = s.sparkContext.hadoopConfiguration
            val tableDir = new org.apache.hadoop.fs.Path(meta.location)
            val fs = tableDir.getFileSystem(hconf)
            val fixed = cat.listPartitions(newTi).flatMap { part =>
              val cur = new org.apache.hadoop.fs.Path(part.location)
              // har:-scheme (archived) pointers are restored above and are
              // not probeable through the table's filesystem
              if (Option(part.location.getScheme).contains("har")) None
              else if (fs.exists(cur)) None
              else {
                val regen2 = meta.partitionColumnNames.foldLeft(tableDir) {
                  (acc, col) =>
                    new org.apache.hadoop.fs.Path(acc,
                      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                        .getPartitionPathString(col, part.spec(col)))
                }
                if (fs.exists(regen2))
                  Some(part.copy(storage = part.storage.copy(
                    locationUri = Some(regen2.toUri))))
                else None
              }
            }
            if (fixed.nonEmpty) cat.alterPartitions(newTi, fixed)
            s.catalog.refreshTable(newName)
          }
        }
      case AlterDropPartition(table, ifExists, specText) =>
        Some { s =>
          val cat = s.sessionState.catalog
          val ti = org.apache.spark.sql.catalyst.TableIdentifier(table)
          val spec = sources.HiveExim.parsePartSpec(specText)
            .collect { case (k, Some(v)) => k -> v }.toMap
          val partCols = cat.getTableMetadata(ti).partitionColumnNames
          val partial = spec.size < partCols.size
          // Hive 0.8's DDLTask.dropPartition iterates the MATCHING
          // partitions — a spec matching nothing is silently a no-op,
          // with or without IF EXISTS (protectmode.q drops p='not_exist')
          val matching = cat.listPartitions(ti, Some(spec)).map(_.spec)
          val _ = partial // partial and full specs share the match-walk
          // hive.exec.drop.ignorenonexistent=false + no IF EXISTS: a spec
          // matching nothing REFUSES (clientnegative
          // drop_partition_failure.q); default TRUE keeps the silent no-op
          if (matching.isEmpty && ifExists == null &&
              s.conf.getOption("hive.exec.drop.ignorenonexistent")
                .exists(_.trim.equalsIgnoreCase("false")))
            throw new IllegalArgumentException(s"Partition not found: $specText")
          if (matching.nonEmpty)
            cat.dropPartitions(ti, matching, ignoreIfNotExists = true,
              purge = false, retainData = false)
          s.catalog.refreshTable(table)
        }
      case AlterNotClustered(table) =>
        Some { s =>
          val cat = s.sessionState.catalog
          val ti = org.apache.spark.sql.catalyst.TableIdentifier(table)
          cat.alterTable(cat.getTableMetadata(ti).copy(bucketSpec = None))
          s.catalog.refreshTable(table)
        }
      case ChangeCol(table, oldName, newName, typeStr, comment, pos) =>
        Some(s => changeColumn(s, table, oldName, newName, typeStr,
          Option(comment), Option(pos)))
      case AlterConcatenate(table, spec) =>
        Some(s => alterConcatenate(s, table, Option(spec)))
      case AlterIndexRebuild(name, table) =>
        Some(s => operators.Indexes.rebuild(s, stripTicks(name), table))
      case DropIndex(ifExists, name, table) =>
        Some(s => operators.Indexes.dropIndex(s, stripTicks(name), table,
          ifExists != null))
      case StoredBy(external, table, cols, handler, serde, tblProps) =>
        Some { s =>
          // the storage-handler dispatch (HiveStorageHandler): the bundled
          // handler is the KV connector; anything else (e.g. the HBase
          // client handler) needs its client stack on the classpath
          val h = handler.trim
          require(h == "graft.sources.kv.KvSource" || h.equalsIgnoreCase("kv") ||
              h.endsWith("HBaseStorageHandler"),
            s"storage handler $h is not available; the bundled handler is " +
              "graft.sources.kv.KvSource")
          def props(text: String): Map[String, String] =
            if (text == null) Map.empty
            else PropPair.findAllMatchIn(text)
              .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
          val p = props(serde) ++ props(tblProps)
          // accept the reference's hbase.* property spellings as aliases
          val mapping = p.get("kv.columns.mapping")
            .orElse(p.get("hbase.columns.mapping")).getOrElse(
              throw new IllegalArgumentException(
                "No kv.columns.mapping defined in Serde."))
          val kvName = p.get("kv.table.name").orElse(p.get("hbase.table.name"))
            .getOrElse(table.split('.').last)
          val ext = external != null
          // HiveMetaHook lifecycle (HBaseMetaHook): managed CREATE creates
          // the store table; EXTERNAL requires it to exist
          if (ext) require(graft.sources.kv.KvStore.exists(kvName),
            s"external KV table $kvName does not exist")
          else graft.sources.kv.KvStore.create(kvName)
          try native(s,
            s"""CREATE TABLE $table ($cols)
                USING graft.sources.kv.KvSource
                OPTIONS ('kv.table.name'='$kvName',
                         'kv.columns.mapping'='$mapping'
                         ${if (ext) ",'kv.external'='true'" else ""})""")
          catch { case e: Throwable =>
            if (!ext) graft.sources.kv.KvStore.drop(kvName) // rollback hook
            throw e
          }
        }
      case AlterProtect(table, partSpec, toggle, mode) =>
        Some { s =>
          Option(partSpec) match {
            case None => Protect.setMode(s, table,
              toggle.equalsIgnoreCase("ENABLE"), mode)
            case Some(sp) => Protect.setModePartition(s, table, sp,
              toggle.equalsIgnoreCase("ENABLE"), mode)
          }
        }
      case AlterTouch(table, partSpec) =>
        // partition-scoped TOUCH (touch.q): bump the PARTITION's ddl time
        Some { s =>
          Option(partSpec) match {
            case None => Protect.touch(s, table)
            case Some(sp) =>
              val cat = s.sessionState.catalog
              val ti = s.sessionState.sqlParser.parseTableIdentifier(stripTicks(table))
              val kv = sources.HiveExim.parsePartSpec(sp)
                .collect { case (k, Some(v)) => k -> stripQuotes(v) }.toMap
              val parts = cat.listPartitions(ti, Some(kv))
              require(parts.nonEmpty, s"Partition not found: $sp")
              val now = (System.currentTimeMillis() / 1000).toString
              cat.alterPartitions(ti, parts.map(p => p.copy(parameters =
                p.parameters + ("transient_lastDdlTime" -> now))))
          }
        }
      case AlterSetFileFormat(table, partSpec, fmt) =>
        Some(s => alterFileFormat(s, table, Option(partSpec), fmt))
      case AlterSetFileFormatIO(table, partSpec, _, outF) =>
        Some { s =>
          val short =
            if (outF.contains("SequenceFile")) "SEQUENCEFILE"
            else if (outF.contains("RCFile")) "RCFILE"
            else if (outF.contains("Text") || outF.contains("IgnoreKey")) "TEXTFILE"
            else throw new IllegalStateException(
              s"SET FILEFORMAT: unmapped OUTPUTFORMAT $outF")
          alterFileFormat(s, table, Option(partSpec), short)
        }
      case AlterClusteredBy(table, cols, sortCols, n) =>
        Some { s =>
          val cat = s.sessionState.catalog
          val ti = s.sessionState.sqlParser.parseTableIdentifier(table)
          val meta = cat.getTableMetadata(ti)
          val sorts = Option(sortCols).toSeq.flatMap(_.split(",")).map(
            _.trim.split("\\s+")(0)).filter(_.nonEmpty) // strip ASC/DESC
          val bucketCols =
            cols.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
          // Existing data files carry no Spark bucket-id names, so a live
          // bucketSpec over them fails/misassigns under bucketed scans —
          // same failure HiveLoad demotes for (HiveLoad.scala). Live spec
          // only when the table holds no data yet; otherwise stash the
          // layout in properties (still honored by hiveBucketSpec callers).
          val loc = new org.apache.hadoop.fs.Path(meta.location)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          val hasData = fs.exists(loc) && {
            val it = fs.listFiles(loc, true)
            var found = false
            while (!found && it.hasNext) {
              val nm = it.next().getPath.getName
              found = !nm.startsWith("_") && !nm.startsWith(".")
            }
            found
          }
          if (hasData)
            cat.alterTable(meta.copy(
              bucketSpec = None,
              properties = meta.properties +
                ("graft.hive.bucket.cols" -> bucketCols.mkString(",")) +
                ("graft.hive.bucket.n" -> n.toInt.toString)))
          else
            cat.alterTable(meta.copy(bucketSpec = Some(
              org.apache.spark.sql.catalyst.catalog.BucketSpec(n.toInt,
                bucketCols, sorts.toIndexedSeq)),
              properties = meta.properties -
                "graft.hive.bucket.cols" - "graft.hive.bucket.n"))
          s.catalog.refreshTable(table)
        }
      case _ if CreateViewCols.findFirstIn(
          try maskLiterals(q)._1 catch { case _: IllegalArgumentException => "" }
        ).isDefined =>
        Some(s => createViewWithColumnList(s, q))
      case CreateViewPartitioned(head, view, cols, body) =>
        Some { s =>
          native(s, s"$head $body")
          val cat = s.sessionState.catalog
          val ti = s.sessionState.sqlParser.parseTableIdentifier(view)
          val m = cat.getTableMetadata(ti)
          // SemanticAnalyzer.validateCreateView: PARTITIONED ON names must
          // be the view output's RIGHTMOST columns, and at least one
          // non-partitioning column must remain (create_view_failure6-9.q)
          val pcols = cols.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty)
          val outCols = m.schema.fieldNames.map(_.toLowerCase).toSeq
          if (pcols.length >= outCols.length)
            throw new IllegalArgumentException(
              "At least one non-partitioning column must be present in view")
          if (outCols.takeRight(pcols.length) != pcols.toSeq)
            throw new IllegalArgumentException(
              "Rightmost columns in view output do not match PARTITIONED ON clause")
          cat.alterTable(m.copy(properties = m.properties +
            (ViewPartColsKey -> pcols.mkString(",")) +
            (ViewPartsKey -> ""))) // OR REPLACE resets the partition list
        }
      case AlterViewAddPart(view, ifNot, specs) =>
        Some { s =>
          val names = """\(([^)]*)\)""".r.findAllMatchIn(specs)
            .map(m => specName(m.group(1))).toSeq
          // every partition column must be valued (alter_view_failure7.q)
          val declared = s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(view))
            .properties.getOrElse(ViewPartColsKey, "")
            .split(',').map(_.trim).filter(_.nonEmpty)
          """\(([^)]*)\)""".r.findAllMatchIn(specs).foreach { m =>
            val keys = sources.HiveExim.parsePartSpec(m.group(1))
              .map(_._1.toLowerCase).toSet
            if (declared.nonEmpty && keys != declared.toSet)
              throw new IllegalArgumentException(
                "table is partitioned but partition spec is not specified " +
                  s"or does not fully match table partitioning: $keys vs " +
                  declared.mkString(","))
          }
          alterViewParts(s, view) { cur =>
            names.foldLeft(cur) { (acc, n) =>
              if (acc.contains(n)) {
                require(ifNot != null,
                  s"Partition already exists: $n on view $view")
                acc
              } else acc :+ n
            }
          }
        }
      case AlterViewDropPart(view, ifExists, spec) =>
        Some { s =>
          val n = specName(spec)
          alterViewParts(s, view) { cur =>
            if (!cur.contains(n)) {
              // hive.exec.drop.ignorenonexistent (default true) forgives
              val forgive = ifExists != null ||
                !s.conf.getOption("hive.exec.drop.ignorenonexistent")
                  .exists(_.trim.equalsIgnoreCase("false"))
              require(forgive, s"Partition not found: $n on view $view")
              cur
            } else cur.filterNot(_ == n)
          }
        }
      case AnalyzeTable(table, partSpec) =>
        Some { s =>
          val specKv = Option(partSpec).toSeq
            .flatMap(sources.HiveExim.parsePartSpec)
            .collect { case (k, Some(v)) => k -> stripQuotes(v) }.toMap
          // SemanticAnalyzer: a partitioned table needs an explicit spec
          // (clientnegative analyze.q); views are not analyzable
          // (analyze_view.q) — the view case already fails in gatherStats
          val partCols = try s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(table))
            .partitionColumnNames catch { case _: Exception => Nil }
          if (partCols.nonEmpty && Option(partSpec).isEmpty)
            throw new IllegalArgumentException(
              "Table is partitioned and partition specification is needed")
          gatherStats(s, table, specKv)
        }
      case AlterSetSerde(table, serdeClass, _) =>
        Some { s =>
          val known = Seq("LazySimpleSerDe", "LazyBinarySerDe", "ColumnarSerDe",
            "MetadataTypedColumnsetSerDe", "DynamicSerDe", "ThriftDeserializer")
          require(known.exists(serdeClass.endsWith),
            s"ALTER TABLE SET SERDE: unknown serde class $serdeClass")
          native(s, s"ALTER TABLE $table SET TBLPROPERTIES " +
            s"('graft.row.serde'='$serdeClass')")
        }
      case DropTable(table) =>
        // NO_DROP enforcement (DDLTask.java:2995-3010) vetoes first, so a
        // refused drop keeps its indexes and archived partitions; then
        // index metadata cascades with the table, archived partitions are
        // repointed at deletable directories, and the native DROP runs.
        // A MANAGED storage-handler table also drops its KV store table
        // (HiveMetaHook commitDropTable).
        Some { s =>
          Protect.checkDrop(s, table.split('.').last)
          if (s.catalog.tableExists(table))
            operators.Indexes.dropAllForTable(s, table)
          repointArchivedForDrop(s, table)
          val meta = try Some(s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(table)))
          catch { case _: Exception => None }
          // HIVE-2133: DROP TABLE IF EXISTS silently ignores a VIEW name
          val viewSkip = q.matches("(?is).*\\bIF\\s+EXISTS\\b.*") &&
            meta.exists(_.tableType ==
              org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
          if (!viewSkip) {
            native(s, q)
            // a dropped table's protect flags die with it (the reference
            // keeps them in table properties), and so do its grants
            // (TBL_PRIVS rows). Also when IF EXISTS found no table: rows
            // under its name are orphans, e.g. persisted by an earlier
            // application whose in-memory catalog did not survive, and
            // would otherwise pass to the next table of that name
            if (!s.catalog.tableExists(table)) {
              Protect.clearTable(s, table)
              scala.util.Try(s.sessionState.sqlParser.parseTableIdentifier(table))
                .foreach(id => Authz.forgetTable(s,
                  id.database.getOrElse(s.catalog.currentDatabase), id.table))
            }
            meta.filter(_.provider.contains("graft.sources.kv.KvSource"))
              .foreach { m =>
                val p = m.storage.properties.map {
                  case (k, v) => k.toLowerCase -> v }
                if (!p.get("kv.external").contains("true"))
                  p.get("kv.table.name").foreach(graft.sources.kv.KvStore.drop)
              }
          }
        }
      case ArchivePartition(table, un, spec) =>
        Some { s =>
          val kv = sources.HiveExim.parsePartSpec(spec).map {
            case (k, Some(v)) => k -> v
            case (k, None) => throw new IllegalArgumentException(
              s"ARCHIVE requires a full partition spec; $k has no value")
          }
          if (un != null) sources.HiveArchive.unarchivePartition(s, table, kv)
          else sources.HiveArchive.archivePartition(s, table, kv)
        }
      case LockTable(table, part, mode) =>
        Some(s => Locks.lockTable(s, table, mode, Option(part)))
      case UnlockTable(table, part) =>
        Some(s => Locks.unlockTable(s, table, Option(part)))
      // HIVE-2133 (create_view.q): DROP VIEW IF EXISTS ignores a matching
      // TABLE name (DropTable above is the DROP TABLE IF EXISTS half) —
      // Spark raises WRONG_COMMAND_FOR_OBJECT_TYPE
      case DropViewIfExists(name) =>
        Some { s =>
          val isTable = try s.sessionState.catalog.getTableMetadata(
              s.sessionState.sqlParser.parseTableIdentifier(name)).tableType !=
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
          catch { case scala.util.control.NonFatal(_) => false }
          if (!isTable) native(s, q)
        }
      case CreateRole(role) => Some(s => Authz.createRole(s, role))
      case DropRole(role) => Some(s => Authz.dropRole(s, role))
      case GrantRole(role, user) => Some(s => Authz.grantRole(s, role, user))
      case RevokeRole(role, user) => Some(s => Authz.revokeRole(s, role, user))
      case GrantPriv(privs, objType, objName, partSpec, pType, principal, withGrant) =>
        Some(s => Authz.grant(s, privs.split(",").map(_.trim).toSeq, pType,
          principal, objType, objName, withGrant != null, Option(partSpec)))
      case RevokePriv(privs, objType, objName, partSpec, pType, principal) =>
        Some(s => Authz.revoke(s, privs.split(",").map(_.trim).toSeq, pType,
          principal, objType, objName, Option(partSpec)))
      case _ => None
    }

  /** Statement forms that RETURN ROWS (SHOW INDEXES and friends) — the
    * schema is static per statement type, so the injected parser can plan
    * them as commands with declared output ([[plans.HiveShowStatement]]).
    * None = not a row-returning statement form.
    */
  def statementRows(q: String)
      : Option[(org.apache.spark.sql.types.StructType,
                SparkSession => Seq[org.apache.spark.sql.Row])] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    def schema(names: String*): StructType =
      StructType(names.map(StructField(_, StringType, nullable = true)))
    q match {
      // `DESCRIBE table.col[.path]` with `$elem$`/`$key$`/`$value$` steps
      // (DDLSemanticAnalyzer getColPath + MetaStoreUtils.getFieldsFromDeserializer;
      // describe_xpath.q): walk the column's type; a terminal STRUCT lists
      // its fields, anything else is one (last-segment, type) row. A first
      // segment that is NOT a table (db.table describes) delegates native.
      case DescribeColPath(tbl, path) =>
        Some((schema("col_name", "data_type", "comment"), s => {
          import org.apache.spark.sql.types._
          val meta = try Some(s.sessionState.catalog.getTempViewOrPermanentTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(tbl)))
          catch { case scala.util.control.NonFatal(_) => None }
          val parts = path.split('.').toList
          def walk(dt: DataType, ps: List[String]): Option[DataType] = ps match {
            case Nil => Some(dt)
            case p :: rest => (dt, p.toLowerCase) match {
              case (ArrayType(et, _), "$elem$") => walk(et, rest)
              case (MapType(kt, _, _), "$key$") => walk(kt, rest)
              case (MapType(_, vt, _), "$value$") => walk(vt, rest)
              case (st: StructType, name) =>
                st.fields.find(_.name.equalsIgnoreCase(name))
                  .flatMap(f => walk(f.dataType, rest))
              case _ => None
            }
          }
          val headField = meta.flatMap(
            _.schema.fields.find(_.name.equalsIgnoreCase(parts.head)))
          // a real column whose PATH doesn't resolve is the reference's
          // "cannot find field" error (clientnegative describe_xpath1-4.q),
          // not a fall-through to the native db.table describe
          headField.foreach { hf =>
            if (walk(hf.dataType, parts.tail).isEmpty)
              throw new IllegalArgumentException(
                s"cannot find field ${parts.tail.headOption.getOrElse(path)} " +
                  s"from ${hf.dataType.catalogString}")
          }
          val resolved = for {
            head <- headField
            t <- walk(head.dataType, parts.tail)
          } yield t
          resolved match {
            case Some(st: StructType) if parts.size > 1 =>
              st.fields.toSeq.map(f => org.apache.spark.sql.Row(
                f.name, f.dataType.catalogString, "from deserializer"))
            case Some(dt) =>
              Seq(org.apache.spark.sql.Row(parts.last,
                dt.catalogString, "from deserializer"))
            case None => // not table.column — a db.table describe: native
              val rows = native(s, q).collect().toSeq
              rows.map(r => org.apache.spark.sql.Row(
                r.getString(0),
                if (r.length > 1) r.getString(1) else null,
                if (r.length > 2) r.getString(2) else null))
          }
        }))
      // SHOW PARTITIONS [PARTITION(spec)]: PARTITIONED VIEWS answer from
      // their recorded metadata (Hive's view partitions are pure metadata
      // — DDLSemanticAnalyzer addPartition on VIRTUAL_VIEW;
      // create_view_partitioned.q); tables delegate to the native command
      case ShowPartitionsQ(t, spec) =>
        Some((schema("partition"), s => {
          val meta = try Some(s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t)))
          catch { case _: Exception => None }
          meta.filter(m => m.properties.contains(ViewPartColsKey)) match {
            case Some(m) =>
              val want = Option(spec).map(sources.HiveExim.parsePartSpec(_)
                .collect { case (k, Some(v)) =>
                  k.toLowerCase -> v.stripPrefix("'").stripSuffix("'")
                    .stripPrefix("\"").stripSuffix("\"") }.toMap)
                .getOrElse(Map.empty)
              viewParts(m).filter { p =>
                val kv = p.split("/").map(_.split("=", 2))
                  .map(a => a(0).toLowerCase -> a(1)).toMap
                want.forall { case (k, v) => kv.get(k).contains(v) }
              }.map(org.apache.spark.sql.Row(_))
            case None =>
              native(s, s"SHOW PARTITIONS $t" +
                Option(spec).map(sp => s" PARTITION($sp)").getOrElse(""))
                .collect().toSeq
          }
        }))
      // reference SHOW INDEXES schema (ShowIndexesDesc.java:39)
      case ShowIndexes(table) =>
        Some((schema("idx_name", "tab_name", "col_names", "idx_tab_name",
          "idx_type", "comment"),
          s => operators.Indexes.showIndexes(s, table)))
      // DDLTask.showTableStatus: key:value lines, one row each
      case ShowTableExtended(db, pattern, spec) =>
        Some((schema("tab_name"),
          s => showTableExtended(s, Option(db), pattern, Option(spec))))
      // DDLTask.showLocks: name + mode, extended adds the
      // HiveLockObjectData triple (queryId, lockTime, lockMode)
      case ShowLocks(table, part, extended) =>
        val sch =
          if (extended != null)
            schema("tab_name", "mode", "lock_queryid", "lock_time", "lock_mode")
          else schema("tab_name", "mode")
        Some((sch,
          s => Locks.showLocks(s,
            Option(table).map(_ + Option(part).filter(_.trim.nonEmpty)
              .map(p => "@" + p.split(',').map(_.trim.replaceAll("['\"]", ""))
                .mkString("/")).getOrElse("")),
            extended != null)))
      // DDLTask.showGrants property set per grant
      case ShowGrant(pType, principal, objType, objName, objCol, objPart) =>
        if (objPart != null)
          Some((schema("database", "table", "partition", "principal_name",
            "principal_type", "privilege", "grant_time", "grantor"),
            s => Authz.showGrantPartition(s, pType, principal, objName,
              objPart, Option(objCol))))
        else
          Some((schema("database", "table", "principal_name", "principal_type",
            "privilege", "grant_time", "grantor"),
            s => Authz.showGrant(s, pType, principal,
              Option(objType).map(_ -> objName), Option(objCol))))
      case ShowRoleGrant(user) =>
        Some((schema("role", "grant_time"),
          s => Authz.showRoleGrant(s, user)))
      case _ => None
    }
  }
}
