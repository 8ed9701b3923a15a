package graft.operators

import graft.{HiveQl, QueryDef, QueryModule, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, lit}

/** Reference `.q`-file parity battery (SURVEY.md §5 carry-over): the
  * reference's OWN clientpositive test statements, executed through
  * [[graft.HiveQl.sql]] — the same entry point a reference user's scripts
  * hit — and checked against the DuckDB oracle.
  *
  * The reference's golden harness (QTestUtil.java:417-520) runs each `.q`
  * against canonical fixtures (`src` = 500 (key,value) rows of kv1.txt,
  * `srcpart` = the same rows in 4 (ds,hr) partitions) and diffs result rows.
  * We reproduce the harness shape, not its bytes: the fixtures derive
  * DETERMINISTICALLY from the driver's parquet tables (same derivation in
  * the oracle SQL), statements run verbatim from the `.q` corpus — dest
  * table names carry a per-SF suffix so concurrent scale factors can't
  * collide, and readbacks gain a total ORDER BY (+ rounding on DOUBLE
  * aggregates) because our gate hash-compares rows instead of diffing a
  * golden file. `STORED AS TEXTFILE` maps to Hive-text-shaped CSV tables in
  * the dialect (HiveQl.rewriteMasked), so the dest files on disk are ^A-
  * delimited Hive text a reference deployment could LOAD back.
  *
  * Fixture shape: `key = (rn*rn) % 500` over the first 500 orders rows —
  * like kv1.txt it has duplicate keys (quadratic residues collide; counts
  * reach >3 so having.q's `HAVING c > 3` is non-empty) and gaps. The
  * fixture is CONSTANT-SIZE by construction (it is the reference's unit
  * fixture, not scale-out data), so these queries are correctness surface,
  * not rehearsal surface.
  */
object QFileParity extends QueryModule {

  /** Root of the reference's source tree: the one place the `.q` fixture
    * files are located (QTestUtil.createSources reads `data/files/`). Every
    * LOAD / ADD FILE path on the Spark side and every `read_csv` path in
    * the oracle SQL derives from it.
    */
  private[graft] final val RefRoot = "/root/reference"
  private[graft] final val RefData = RefRoot + "/data/files"
  private[graft] final val RefScripts = RefRoot + "/data/scripts"
  private[graft] final val TestDat = RefData + "/test.dat"

  /** Register `src`/`srcpart` temp views on this session; returns the per-SF
    * dest-table suffix. Idempotent per (session, dir).
    */
  /** Spec access to the fixture registration (the registry wrapper runs
    * QueryDefs in isolated sessions, so a spec can no longer piggyback on
    * a query call to get `src` onto ITS session).
    */
  private[graft] def registerFixtures(s: SparkSession, dir: String): String =
    fixtures(s, dir)

  private[operators] def fixtures(s: SparkSession, dir: String): String = {
    t(s, dir, "orders").createOrReplaceTempView("graft_qf_orders")
    t(s, dir, "nation").createOrReplaceTempView("graft_qf_nation")
    registerSrcViews(s, dir)
    // kv3-shaped 25-row side table: empty keys/values on some rows, keys
    // drawn from the same quadratic-residue space as src so joins hit
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW src1 AS
      SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                  ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS STRING) END AS key,
             CASE WHEN n_nationkey % 3 = 0 THEN ''
                  ELSE concat('val_', CAST((4 * n_nationkey * n_nationkey) % 500 AS STRING)) END AS value
      FROM graft_qf_nation""")
    // src_thrift (QTestUtil.java:478): the REFERENCE'S OWN complex.seq —
    // TBinaryProtocol Complex records — decoded by sources.HiveThriftSeq
    graft.sources.HiveThriftSeq
      .readComplex(s, s"$RefData/complex.seq")
      .createOrReplaceTempView("src_thrift")
    (dir.hashCode & Int.MaxValue).toString
  }

  /** `src` / `srcpart` as scans of a once-per-(application, sfDir) staged
    * parquet copy instead of per-reference temp-view derivations.
    *
    * The reference's QTestUtil creates `src` as a REAL TABLE once per test
    * session (QTestUtil.java loads kv1.txt at setup); deriving it as a view
    * re-ran a 150 k-row single-partition window sort at EVERY `src`
    * reference of EVERY .q query — the dominant share of the ~0.4 s
    * fixed cost on the ~790-query parity tail (VERDICT r17 item 4 named
    * exactly this candidate). The staged copy is derived from the same
    * parquet by the same expression ONCE per application run, lives under
    * the app-scoped scratch root (deleted at application end — nothing
    * persists across bench/verify invocations), and row order is the
    * window's rn order ([[Staging.stageOrdered]]), so LIMIT-without-ORDER
    * parity queries see the same rows a fresh derivation would produce.
    * Oracle SQL (SrcCte) is untouched: DuckDB still re-derives from
    * orders.parquet, so equality proves the staged copy faithful.
    */
  private val srcStaged =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private val kvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.StringType)))

  private def registerSrcViews(s: SparkSession, dir: String): Unit = {
    val key = s.sparkContext.applicationId + "|" + dir
    val (srcPath, _) = srcStaged.computeIfAbsent(key, _ => {
      val srcDf = s.sql("""
        SELECT CAST((rn * rn) % 500 AS STRING) AS key,
               concat('val_', CAST((rn * rn) % 500 AS STRING)) AS value
        FROM (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn
              FROM graft_qf_orders) t
        WHERE rn <= 500""")
      val srcP = Staging.scratchRoot(s) + s"/qf_src_${dir.hashCode & Int.MaxValue}"
      Staging.stageOrdered(srcDf, s"qf_src_${dir.hashCode & Int.MaxValue}")
      (srcP, "")
    })
    s.read.schema(kvSchema).parquet(srcPath).createOrReplaceTempView("src")
    // srcpart stays a VIEW over the staged src — the literal VALUES side
    // is load-bearing: a ds/hr filter constant-folds against it, which is
    // this port's analogue of Hive's metastore partition pruning (input23's
    // empty-partition join collapses to an empty relation at PLANNING; a
    // flat staged srcpart file would defer that to runtime), and ~17
    // pinned plan shapes (PlanShapeSpec's non-equi-join audit) carry the
    // VALUES join side by design. The expensive part — the 150 k-row
    // window — is already gone via the staged src underneath.
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW srcpart AS
      SELECT src.key, src.value, p.ds, p.hr
      FROM src, (SELECT ds, hr FROM VALUES
        ('2008-04-08','11'), ('2008-04-08','12'),
        ('2008-04-09','11'), ('2008-04-09','12') AS v(ds, hr)) p""")
  }

  /** DuckDB twin of the `src` view (same derivation over the same parquet). */
  private[operators] val SrcCte =
    """WITH src AS (
         SELECT CAST((rn * rn) % 500 AS VARCHAR) AS key,
                'val_' || CAST((rn * rn) % 500 AS VARCHAR) AS value
         FROM (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn
               FROM orders) t
         WHERE rn <= 500)"""

  private[operators] val SrcPartCte = SrcCte.stripSuffix(")") + """),
       srcpart AS (
         SELECT src.key, src.value, p.ds, p.hr
         FROM src, (SELECT * FROM (VALUES
           ('2008-04-08','11'), ('2008-04-08','12'),
           ('2008-04-09','11'), ('2008-04-09','12')) v(ds, hr)) p)"""

  private[operators] val Src1Cte = SrcCte.stripSuffix(")") + """),
       src1 AS (
         SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                     ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS key,
                CASE WHEN n_nationkey % 3 = 0 THEN ''
                     ELSE 'val_' || CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS value
         FROM nation)"""

  /** Fresh dest table: drop catalog entry AND any stale warehouse dir (the
    * q101 pattern — a fresh JVM has an empty in-memory catalog but the
    * warehouse dir survives).
    */
  private[operators] def fresh(s: SparkSession, names: String*): Unit = names.foreach { n =>
    s.sql(s"DROP TABLE IF EXISTS $n")
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), n)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // the DURABLE metadata stores outlive this JVM's catalog: a prior
    // run's grants/protect flags for this name persist in the warehouse
    // even though the table no longer exists here, and a re-grant then
    // fails with 'already granted' (r16: authsuccess family vs a reused
    // warehouse). fresh means fresh — forget them.
    try graft.Authz.forgetObject(s, n) catch { case _: Exception => }
    try graft.Protect.clearTable(s, n) catch { case _: Exception => }
  }

  // ---- section helpers shared by the tranche files ----------------------
  //
  // A tranche query returns the union of its sections, each tagged with a
  // `sec` number so both sides can totally order the rows. Two row shapes
  // are in use: `Pairs` (sec, c1, c2) and `Lines` (sec, c1), where a
  // `Lines` row |-joins its columns; a tranche imports one family.

  private[operators] object Pairs {
    /** (sec, c1, c2) rows from literal key/value facts. */
    def facts(s: SparkSession, sec: Int, kv: Seq[(String, String)]): DataFrame = {
      import s.implicits._
      kv.toDF("c1", "c2").select(lit(sec).as("sec"), col("c1"), col("c2"))
    }

    def ordered(dfs: Seq[DataFrame]): DataFrame =
      dfs.reduce(_ union _).orderBy("sec", "c1", "c2")
  }

  private[operators] object Lines {
    /** (sec, c1) rows from literal facts, `c1` = "key|value". */
    def facts(s: SparkSession, sec: Int, kv: Seq[(String, String)]): DataFrame = {
      import s.implicits._
      kv.toDF("c1", "c2").select(lit(sec).as("sec"),
        concat_ws("|", col("c1"), col("c2")).as("c1"))
    }

    def ordered(dfs: Seq[DataFrame]): DataFrame =
      dfs.reduce(_ union _).orderBy("sec", "c1")
  }

  /** A two-column (sec, c1, c2) section of `df`, materialized. */
  private[operators] def dump(df: DataFrame, sec: Int, c1: String, c2: String): DataFrame =
    df.select(lit(sec).as("sec"), col(c1).cast("string").as("c1"),
      col(c2).cast("string").as("c2")).localCheckpoint(true)

  /** Standardized leg dump: every column coalesced to 'NULL' strings and
    * |-joined, so heterogeneous legs union into one (sec, c1) frame that
    * both sides can totally order. */
  private[operators] def leg(sec: Int, df: DataFrame): DataFrame = {
    // positional rename first: select-* self-joins carry duplicate column
    // names, which would make by-name references ambiguous
    val r = df.toDF(df.columns.indices.map(i => s"_lc$i"): _*)
    val joined = concat_ws("|", r.columns.map(c =>
      coalesce(col(c).cast("string"), lit("NULL"))): _*)
    r.select(lit(sec).as("sec"), joined.as("c1"))
  }

  /** DuckDB twin of [[leg]] over `cols` of `from`. */
  private[operators] def legSql(sec: Int, cols: Seq[String], from: String): String =
    s"SELECT $sec AS sec, concat_ws('|', " + cols.map(c =>
      s"COALESCE(CAST($c AS VARCHAR), 'NULL')").mkString(", ") + s") AS c1 $from"

  /** The single BIGINT a count query returns. */
  private[operators] def cnt(s: SparkSession, q: String): Long =
    HiveQl.sql(s, q).collect()(0).getLong(0)

  /** DuckDB read of a (key INT, value) ^A-delimited reference file. */
  private[operators] def csv(name: String): String =
    s"""(SELECT * FROM read_csv('$RefData/$name.txt', delim=chr(1), header=false,
        auto_detect=false, quote='', columns={'key': 'INT', 'value': 'VARCHAR'}))"""

  /** Java String.hashCode in DuckDB (the q89 recipe): fold c*31+ch under
    * mod 2^32 (multiplication-homomorphic ≡ Java's int wrap), then recentre
    * into signed-int range. */
  private[operators] def jh(c: String): String =
    s"""(((list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length($c) + 1),
          i -> CAST(ascii(($c)[i:i]) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 4294967296)
        + 2147483648) % 4294967296) - 2147483648)"""

  private[operators] def rmrf(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** (sec, c1, c2) fact rows from a table's stats parameters. */
  private[operators] def tblStats(s: SparkSession, sec: Int, t: String): DataFrame = {
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(t))
    val p = meta.properties
    Pairs.facts(s, sec, Seq(
      "tbl:numRows" -> p.getOrElse("numRows", "<none>"),
      "tbl:hasFiles" -> p.get("numFiles").exists(_.toLong > 0).toString,
      "tbl:hasBytes" -> p.get("totalSize").exists(_.toLong > 0).toString))
  }

  /** (sec, c1, c2) fact rows: one numRows per partition (sorted spec). */
  private[operators] def partStats(s: SparkSession, sec: Int, t: String): DataFrame = {
    val ti = s.sessionState.sqlParser.parseTableIdentifier(t)
    val rows = s.sessionState.catalog.listPartitions(ti).map { p =>
      val spec = p.spec.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")
      s"part:$spec" -> p.parameters.getOrElse("numRows", "<none>")
    }.sortBy(_._1)
    Pairs.facts(s, sec, rows)
  }

  // the exim (export/import) family

  private[operators] def exportDir(qn: String, sfx: String) = s"/tmp/graft_exim/${qn}_$sfx"

  private[operators] def loadEmp(s: SparkSession, t: String, co: String, st: String): Unit =
    HiveQl.sql(s, s"""load data local inpath "$TestDat"
      into table $t partition (emp_country="$co", emp_state="$st")""")

  private[operators] def dumpEmp(s: SparkSession, sec: Int, t: String): DataFrame =
    HiveQl.sql(s, s"select * from $t").select(lit(sec).as("sec"),
      col("emp_id").cast("string").as("c1"),
      concat(col("emp_country"), lit("/"), col("emp_state")).as("c2"))
      .localCheckpoint(true)

  /** importer-database dance shared by every exim def: create+use a fresh
    * db, run the import steps, then restore the default db. */
  private[operators] def inImporterDb(s: SparkSession, qn: String, sfx: String)(
      body: => DataFrame): DataFrame = {
    val db = s"importer_${qn}_$sfx"
    HiveQl.sql(s, s"drop database if exists $db cascade")
    HiveQl.sql(s, s"create database $db")
    HiveQl.sql(s, s"use $db")
    try body finally {
      HiveQl.sql(s, "use default")
      HiveQl.sql(s, s"drop database if exists $db cascade")
    }
  }

  private[operators] def empLegSql(sec: Int, parts: Seq[(String, String)]): String =
    parts.map { case (co, st) =>
      s"""SELECT $sec AS sec, CAST(dep_id AS VARCHAR) AS c1, '$co/$st' AS c2 FROM dept"""
    }.mkString(" UNION ALL ")

  // the index family

  /** Real src-shaped table (the .q files index src/srcpart, temp views
    * here — an index needs a catalog table). */
  private[operators] def srcTable(s: SparkSession, qn: String, sfx: String): String = {
    val t = s"idxsrc_${qn}_$sfx"
    fresh(s, t)
    HiveQl.sql(s, s"create table $t (key string, value string) stored as textfile")
    HiveQl.sql(s, s"insert overwrite table $t select * from src")
    t
  }

  private[operators] def srcpartTable(s: SparkSession, qn: String, sfx: String,
      fmt: String = "TEXTFILE"): String = {
    val t = s"idxsrcpart_${qn}_$sfx"
    fresh(s, t)
    HiveQl.sql(s, s"CREATE TABLE $t (key string, value string) " +
      s"PARTITIONED BY (ds string, hr string) STORED AS $fmt")
    for (ds <- Seq("2008-04-08", "2008-04-09"); hr <- Seq("11", "12"))
      HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds='$ds', hr='$hr') " +
        s"SELECT key, value FROM srcpart WHERE ds = '$ds' AND hr = '$hr'")
    t
  }

  private[operators] def idxTable(t: String, idx: String) = s"default__${t}_${idx}__"

  private[operators] def extractDir(s: SparkSession, qn: String, sfx: String): String =
    s"/tmp/graft_idx/${qn}_$sfx"

  private[operators] def dirNonEmpty(s: SparkSession, d: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getLen > 0 && !st.getPath.getName.startsWith("_"))
  }

  /** clientpositive/join_nulls.q select inventory (non-SMB section): join
    * type × ON condition × optional MAPJOIN hint over the NULL-bearing
    * in1.txt rows. Executed verbatim on the Spark side; the DuckDB oracle
    * re-expresses only the conditionless forms per ANSI (CROSS JOIN /
    * ON TRUE), which is the identical join.
    */
  private case class JN(jt: String, cond: Option[String],
      hint: Option[String] = None)
  private val JoinNullsCases: Seq[JN] = Seq(
    JN("JOIN", None), JN("LEFT OUTER JOIN", None),
    JN("RIGHT OUTER JOIN", None),
    JN("JOIN", Some("a.key = b.value")), JN("JOIN", Some("a.key = b.key")),
    JN("JOIN", Some("a.value = b.value")),
    JN("JOIN", Some("a.value = b.value and a.key = b.key")),
    JN("LEFT OUTER JOIN", Some("a.key = b.value")),
    JN("LEFT OUTER JOIN", Some("a.value = b.value")),
    JN("LEFT OUTER JOIN", Some("a.key = b.key")),
    JN("LEFT OUTER JOIN", Some("a.key = b.key and a.value = b.value")),
    JN("RIGHT OUTER JOIN", Some("a.key = b.value")),
    JN("RIGHT OUTER JOIN", Some("a.key = b.key")),
    JN("RIGHT OUTER JOIN", Some("a.value = b.value")),
    JN("RIGHT OUTER JOIN", Some("a.key = b.key and a.value = b.value")),
    JN("FULL OUTER JOIN", Some("a.key = b.value")),
    JN("FULL OUTER JOIN", Some("a.key = b.key")),
    JN("FULL OUTER JOIN", Some("a.value = b.value")),
    JN("FULL OUTER JOIN", Some("a.value = b.value and a.key = b.key")),
    JN("JOIN", None, Some("a")),
    JN("JOIN", Some("a.key = b.value"), Some("a")),
    JN("JOIN", Some("a.key = b.key"), Some("a")),
    JN("JOIN", Some("a.value = b.value"), Some("a")),
    JN("JOIN", Some("a.key = b.value"), Some("b")),
    JN("JOIN", Some("a.key = b.key"), Some("b")),
    JN("JOIN", Some("a.value = b.value"), Some("b")),
    JN("JOIN", Some("a.value = b.value and a.key = b.key"), Some("b")),
    JN("LEFT OUTER JOIN", Some("a.key = b.value"), Some("b")),
    JN("LEFT OUTER JOIN", Some("a.key = b.key"), Some("b")),
    JN("LEFT OUTER JOIN", Some("a.value = b.value"), Some("b")),
    JN("RIGHT OUTER JOIN", Some("a.key = b.value"), Some("a")),
    JN("RIGHT OUTER JOIN", Some("a.key = b.key"), Some("a")),
    JN("RIGHT OUTER JOIN", Some("a.value = b.value"), Some("a")))

  /** join_nulls.q SMB section: bucketed-sorted tables, MAPJOIN hints under
    * hive.optimize.bucketmapJOIN[.sortedmerge] — `l`/`r` pick smb_input1/2.
    */
  private case class SJN(l: Int, r: Int, jt: String, cond: String,
      hint: String)
  private val SmbNullsCases: Seq[SJN] = Seq(
    SJN(1, 1, "JOIN", "a.key = b.key", "a"),
    SJN(1, 1, "JOIN", "a.key = b.key AND a.value = b.value", "a"),
    SJN(1, 1, "RIGHT OUTER JOIN", "a.key = b.key", "a"),
    SJN(1, 1, "JOIN", "a.key = b.key", "b"),
    SJN(1, 1, "LEFT OUTER JOIN", "a.key = b.key", "b"),
    SJN(1, 2, "JOIN", "a.key = b.value", "a"),
    SJN(1, 2, "JOIN", "a.key = b.value", "b"),
    SJN(1, 2, "LEFT OUTER JOIN", "a.key = b.value", "b"),
    SJN(1, 2, "RIGHT OUTER JOIN", "a.key = b.value", "a"),
    SJN(2, 2, "JOIN", "a.value = b.value", "a"),
    SJN(2, 2, "RIGHT OUTER JOIN", "a.value = b.value", "a"),
    SJN(2, 2, "JOIN", "a.value = b.value", "b"),
    SJN(2, 2, "LEFT OUTER JOIN", "a.value = b.value", "b"))

  /** join_1to1.q's five distinct selects (the .q repeats them under three
    * hive.join.emit.interval and two hive.outerjoin.supports.filters
    * settings — reduce-side buffering knobs that do not change results).
    */
  private val Join1to1Conds: Seq[(String, String)] = Seq(
    "JOIN" -> "a.key1 = b.key1",
    "FULL OUTER JOIN" -> "a.key1 = b.key1",
    "FULL OUTER JOIN" -> "a.key1 = b.key1 AND a.value = 66 AND b.value = 66",
    "FULL OUTER JOIN" -> "a.key1 = b.key1 AND a.key2 = b.key2",
    "FULL OUTER JOIN" ->
      "a.key1 = b.key1 AND a.key2 = b.key2 AND a.value = 66 AND b.value = 66")

  /** DuckDB VALUES transcriptions of the reference join fixtures
    * (data/files/in5.txt, in6.txt — ^A-delimited, '' = NULL).
    */
  private val In5Values =
    """(5,10005,66),(15,10015,66),(20,10020,66),(25,10025,88),(30,10030,66),
       (35,10035,88),(40,10040,66),(40,10040,88),(50,10050,88),(50,10050,66),
       (50,10050,88),(60,10040,66),(60,10040,66),(70,10040,66),(70,10040,66),
       (80,10040,88),(80,10040,88),(CAST(NULL AS INT),10050,66),
       (CAST(NULL AS INT),CAST(NULL AS INT),66)"""
  private val In6Values =
    """(5,10005,66),(10,10010,66),(20,10020,66),(25,10025,66),(30,10030,88),
       (35,10035,88),(40,10040,66),(40,10040,88),(50,10050,66),(50,10050,88),
       (50,10050,66),(60,10040,66),(60,10040,66),(70,10040,88),(70,10040,88),
       (80,10040,66),(80,10040,66),(CAST(NULL AS INT),10050,66),
       (CAST(NULL AS INT),CAST(NULL AS INT),66)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/groupby1.q: the corpus' canonical aggregation —
    //      sum over a substring of the value, stored through an INT/DOUBLE
    //      dest (string→numeric store casts, Hive's LEGACY assignment)
    QueryDef(
      "q139_qf_groupby1",
      (s, dir) => {
        val d = s"dest_g1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          s"SELECT src.key, sum(substr(src.value,5)) GROUP BY src.key")
        HiveQl.sql(s, s"SELECT $d.key, round($d.value, 2) AS value FROM $d ORDER BY key")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key,
               round(sum(CAST(substr(value, 5) AS DOUBLE)), 2) AS value
        FROM src GROUP BY key ORDER BY key""")),

    // ---- clientpositive/groupby3.q: the 9-aggregate battery in one pass —
    //      incl. avg(DISTINCT) and the Hive POPULATION spellings std /
    //      variance (GenericUDAFStd; Spark's same-named builtins are SAMPLE,
    //      so these resolve to graft's population registrations)
    QueryDef(
      "q140_qf_groupby3",
      (s, dir) => {
        val d = s"dest_g3_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 DOUBLE, c2 DOUBLE, c3 DOUBLE, " +
          "c4 DOUBLE, c5 DOUBLE, c6 DOUBLE, c7 DOUBLE, c8 DOUBLE, c9 DOUBLE) " +
          "STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src INSERT OVERWRITE TABLE $d SELECT
             sum(substr(src.value,5)),
             avg(substr(src.value,5)),
             avg(DISTINCT substr(src.value,5)),
             max(substr(src.value,5)),
             min(substr(src.value,5)),
             std(substr(src.value,5)),
             stddev_samp(substr(src.value,5)),
             variance(substr(src.value,5)),
             var_samp(substr(src.value,5))""")
        HiveQl.sql(s, s"SELECT round(c1,2) AS c1, round(c2,4) AS c2, " +
          s"round(c3,4) AS c3, c4, c5, round(c6,4) AS c6, round(c7,4) AS c7, " +
          s"round(c8,2) AS c8, round(c9,2) AS c9 FROM $d ORDER BY c1")
      },
      Some(s"""$SrcCte
        SELECT round(sum(v), 2) AS c1, round(avg(v), 4) AS c2,
               round(avg(DISTINCT v), 4) AS c3,
               CAST(max(sv) AS DOUBLE) AS c4, CAST(min(sv) AS DOUBLE) AS c5,
               round(stddev_pop(v), 4) AS c6, round(stddev_samp(v), 4) AS c7,
               round(var_pop(v), 2) AS c8, round(var_samp(v), 2) AS c9
        FROM (SELECT substr(value, 5) AS sv,
                     CAST(substr(value, 5) AS DOUBLE) AS v FROM src) t
        ORDER BY c1""")),

    // ---- clientpositive/input12.q: 3-way multi-insert off one scan —
    //      disjoint filters into two flat dests plus a STATIC-partition
    //      dest (PARTITION(ds,hr) branch through operators.MultiInsert)
    QueryDef(
      "q141_qf_input12",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2, d3) = (s"dest1_$sfx", s"dest2_$sfx", s"dest3_$sfx")
        fresh(s, d1, d2, d3)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d3(key INT) PARTITIONED BY(ds STRING, hr STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src
             INSERT OVERWRITE TABLE $d1 SELECT src.* WHERE src.key < 100
             INSERT OVERWRITE TABLE $d2 SELECT src.key, src.value WHERE src.key >= 100 and src.key < 200
             INSERT OVERWRITE TABLE $d3 PARTITION(ds='2008-04-08', hr='12') SELECT src.key WHERE src.key >= 200""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value FROM $d1
             UNION ALL SELECT 'd2', key, value FROM $d2
             UNION ALL SELECT 'd3', key, concat(ds, '/', hr) FROM $d3
             ORDER BY tag, key, value""")
      },
      Some(s"""$SrcCte, base AS
          (SELECT CAST(key AS DOUBLE) AS kd, CAST(key AS INT) AS key, value FROM src)
        SELECT * FROM (
          SELECT 'd1' AS tag, key, value FROM base WHERE kd < 100
          UNION ALL SELECT 'd2', key, value FROM base WHERE kd >= 100 AND kd < 200
          UNION ALL SELECT 'd3', key, '2008-04-08/12' FROM base WHERE kd >= 200) u
        ORDER BY tag, key, value""")),

    // ---- clientpositive/join2.q: three-way self join whose second ON
    //      condition ADDS string keys (src1.key + src2.key = src3.key —
    //      Hive arithmetic coerces string→double, then the comparison
    //      coerces the string side; both are the dialect's coercion surface)
    QueryDef(
      "q142_qf_join2",
      (s, dir) => {
        val d = s"dest_j2_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key) JOIN src src3 ON (src1.key + src2.key = src3.key)
             INSERT OVERWRITE TABLE $d SELECT src1.key, src3.value""")
        HiveQl.sql(s, s"SELECT key, value, CAST(count(*) AS BIGINT) AS n " +
          s"FROM $d GROUP BY key, value ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(s1.key AS INT) AS key, s3.value AS value,
               CAST(count(*) AS BIGINT) AS n
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        JOIN src s3
          ON CAST(s1.key AS DOUBLE) + CAST(s2.key AS DOUBLE) = CAST(s3.key AS DOUBLE)
        GROUP BY 1, 2 ORDER BY key, value""")),

    // ---- clientpositive/having.q: all five HAVING shapes — aggregate
    //      alias in HAVING (h1), non-grouped coerced key filter (h2),
    //      aggregate-only predicates with and without the aggregate in the
    //      select list (h3/h5), WHERE + HAVING combined (h4)
    QueryDef(
      "q143_qf_having",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT tag, a, b FROM (
             SELECT 'h1' AS tag, CAST(c AS STRING) AS a, '' AS b FROM
               (SELECT count(value) AS c FROM src GROUP BY key HAVING c > 3) h1
             UNION ALL SELECT 'h2', key, c FROM
               (SELECT key, max(value) AS c FROM src GROUP BY key HAVING key != 302) h2
             UNION ALL SELECT 'h3', key, '' FROM
               (SELECT key FROM src GROUP BY key HAVING max(value) > "val_255") h3
             UNION ALL SELECT 'h4', key, '' FROM
               (SELECT key FROM src where key > 300 GROUP BY key HAVING max(value) > "val_255") h4
             UNION ALL SELECT 'h5', key, mv FROM
               (SELECT key, max(value) AS mv FROM src GROUP BY key HAVING max(value) > "val_255") h5
             ) u ORDER BY tag, a, b""")
      },
      Some(s"""$SrcCte
        SELECT tag, a, b FROM (
          SELECT 'h1' AS tag, CAST(count(value) AS VARCHAR) AS a, '' AS b
            FROM src GROUP BY key HAVING count(value) > 3
          UNION ALL SELECT 'h2', key, max(value) FROM src GROUP BY key
            HAVING CAST(key AS DOUBLE) != 302
          UNION ALL SELECT 'h3', key, '' FROM src GROUP BY key
            HAVING max(value) > 'val_255'
          UNION ALL SELECT 'h4', key, '' FROM src
            WHERE CAST(key AS DOUBLE) > 300 GROUP BY key
            HAVING max(value) > 'val_255'
          UNION ALL SELECT 'h5', key, max(value) FROM src GROUP BY key
            HAVING max(value) > 'val_255') u
        ORDER BY tag, a, b""")),

    // ---- clientpositive/union3.q: four-branch UNION ALL with CLUSTER BY
    //      and LIMIT-1 subqueries inside branches, inserted through a table
    QueryDef(
      "q144_qf_union3",
      (s, dir) => {
        val d = s"union_out_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d (id int) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""insert overwrite table $d
             SELECT * FROM (
               (SELECT 1 AS id FROM (SELECT * FROM src LIMIT 1) s1 CLUSTER BY id)
               UNION ALL
               (SELECT 2 AS id FROM (SELECT * FROM src LIMIT 1) s1 CLUSTER BY id)
               UNION ALL
               (SELECT 3 AS id FROM (SELECT * FROM src LIMIT 1) s2)
               UNION ALL
               (SELECT 4 AS id FROM (SELECT * FROM src LIMIT 1) s2)
             ) a""")
        HiveQl.sql(s, s"SELECT id FROM $d ORDER BY id")
      },
      Some("SELECT * FROM (VALUES (1), (2), (3), (4)) t(id) ORDER BY id")),

    // ---- clientpositive/join25.q: MAPJOIN hint verbatim (→ BROADCAST in
    //      the dialect) over the kv3-shaped src1 side — empty-string keys
    //      on the build side must simply not match
    QueryDef(
      "q146_qf_join25",
      (s, dir) => {
        val d = s"dest_jm_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
             SELECT /*+ MAPJOIN(x) */ x.key, x.value, y.value
             FROM src1 x JOIN src y ON (x.key = y.key)""")
        HiveQl.sql(s, s"select * from $d x order by x.key, x.value, x.val2")
      },
      Some(s"""$Src1Cte
        SELECT CAST(x.key AS INT) AS key, x.value AS value, y.value AS val2
        FROM src1 x JOIN src y ON x.key = y.key
        ORDER BY key, value, val2""")),

    // ---- clientpositive/sample2.q: BUCKET 1 OUT OF 2 with NO ON clause —
    //      the "default table sample columns" path: the dialect resolves
    //      the table's catalog bucket spec (key) and rewrites to the
    //      reference's (hash & MAX) % den predicate
    QueryDef(
      "q147_qf_sample2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (sb, d) = (s"srcbucket_$sfx", s"dest_s2_$sfx")
        fresh(s, sb, d)
        s.sql(s"CREATE TABLE $sb (key INT, value STRING) USING parquet " +
          "CLUSTERED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $sb SELECT CAST(key AS INT), value FROM src")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* \nFROM $sb TABLESAMPLE (BUCKET 1 OUT OF 2) s")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT k AS key, value FROM
          (SELECT CAST(key AS INT) AS k, value FROM src) t
        WHERE (k & 2147483647) % 2 = 0
        ORDER BY key, value""")),

    // ---- clientpositive/cast1.q: the numeric-coercion constant battery
    //      (int+int, decimal+int, int/boolean casts) through a typed dest.
    //      kv1's key 86 is not in this fixture's key space; 81 (a quadratic
    //      residue) plays its role — the only adaptation
    QueryDef(
      "q148_qf_cast1",
      (s, dir) => {
        val d = s"dest_c1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 DOUBLE, c3 DOUBLE, c4 DOUBLE, c5 INT, c6 STRING, c7 INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src INSERT OVERWRITE TABLE $d SELECT 3 + 2, 3.0 + 2, 3 + 2.0, 3.0 + 2.0, 3 + CAST(2.0 AS INT) + CAST(CAST(0 AS SMALLINT) AS INT), CAST(1 AS BOOLEAN), CAST(TRUE AS INT) WHERE src.key = 81""")
        HiveQl.sql(s, s"select $d.* FROM $d ORDER BY c1")
      },
      Some(s"""$SrcCte
        SELECT 3 + 2 AS c1, CAST(3.0 + 2 AS DOUBLE) AS c2,
               CAST(3 + 2.0 AS DOUBLE) AS c3, CAST(3.0 + 2.0 AS DOUBLE) AS c4,
               3 + CAST(2.0 AS INT) + CAST(CAST(0 AS SMALLINT) AS INT) AS c5,
               CAST(CAST(1 AS BOOLEAN) AS VARCHAR) AS c6,
               CAST(TRUE AS INT) AS c7
        FROM src WHERE CAST(key AS DOUBLE) = 81 ORDER BY c1""")),

    // ---- clientpositive/udf_case.q + udf_when.q: the CASE/WHEN constant
    //      batteries, incl. the short-circuit stanza — the ELSE branch
    //      must never evaluate. The .q spells it with a bogus reflect();
    //      Spark's reflect resolves the method at ANALYSIS (a stricter,
    //      earlier error than Hive's runtime resolution), so the same
    //      runtime-throw-if-evaluated property is pinned with raise_error
    QueryDef(
      "q149_qf_udf_case_when",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CASE 1 WHEN 1 THEN 2 WHEN 3 THEN 4 ELSE 5 END AS c1,
                    CASE 2 WHEN 1 THEN 2 ELSE 5 END AS c2,
                    CASE 14 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c3,
                    CASE 16 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c4,
                    CASE 17 WHEN 18 THEN NULL WHEN 17 THEN 20 END AS c5,
                    CASE 21 WHEN 22 THEN 23 WHEN 21 THEN 24 END AS c6,
                    CASE WHEN 1=1 THEN 2 WHEN 1=3 THEN 4 ELSE 5 END AS w1,
                    CASE WHEN 6=7 THEN 8 ELSE 9 END AS w2,
                    CASE WHEN 10=11 THEN 12 WHEN 13=13 THEN 14 END AS w3,
                    CASE WHEN 15=16 THEN 17 WHEN 18=19 THEN 20 END AS w4,
                    CASE WHEN 21=22 THEN NULL WHEN 23=23 THEN 24 END AS w5,
                    CASE WHEN 25=26 THEN 27 WHEN 28=28 THEN NULL END AS w6,
                    CASE 1 WHEN 1 THEN 'yo'
                           ELSE raise_error('else branch must not evaluate') END AS sc
             FROM src LIMIT 1""")
      },
      Some("""SELECT CASE 1 WHEN 1 THEN 2 WHEN 3 THEN 4 ELSE 5 END AS c1,
                     CASE 2 WHEN 1 THEN 2 ELSE 5 END AS c2,
                     CASE 14 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c3,
                     CASE 16 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c4,
                     CASE 17 WHEN 18 THEN NULL WHEN 17 THEN 20 END AS c5,
                     CASE 21 WHEN 22 THEN 23 WHEN 21 THEN 24 END AS c6,
                     CASE WHEN 1=1 THEN 2 WHEN 1=3 THEN 4 ELSE 5 END AS w1,
                     CASE WHEN 6=7 THEN 8 ELSE 9 END AS w2,
                     CASE WHEN 10=11 THEN 12 WHEN 13=13 THEN 14 END AS w3,
                     CASE WHEN 15=16 THEN 17 WHEN 18=19 THEN 20 END AS w4,
                     CASE WHEN 21=22 THEN NULL WHEN 23=23 THEN 24 END AS w5,
                     CASE WHEN 25=26 THEN 27 WHEN 28=28 THEN NULL END AS w6,
                     'yo' AS sc""")),

    // ---- clientpositive/input_part1.q: partition-predicate select out of
    //      srcpart into a dest carrying the partition columns as data
    QueryDef(
      "q145_qf_input_part1",
      (s, dir) => {
        val d = s"dest_p1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, hr STRING, ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart
             INSERT OVERWRITE TABLE $d SELECT srcpart.key, srcpart.value, srcpart.hr, srcpart.ds WHERE srcpart.key < 100 and srcpart.ds = '2008-04-08' and srcpart.hr = '12'""")
        HiveQl.sql(s, s"SELECT key, value, hr, ds FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(key AS INT) AS key, value, hr, ds
        FROM srcpart
        WHERE CAST(key AS DOUBLE) < 100 AND ds = '2008-04-08' AND hr = '12'
        ORDER BY key, value""")),

    // ---- clientpositive/groupby7.q: the SAME aggregate into TWO dests off
    //      one scan (operators.MultiInsert shares the map phase); the SET
    //      knobs run through the processor path verbatim
    QueryDef(
      "q151_qf_groupby7",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_g7a_$sfx", s"dest_g7b_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, "SET hive.exec.compress.intermediate=true")
        HiveQl.sql(s, "SET hive.exec.compress.output=true")
        HiveQl.sql(s,
          s"""FROM SRC
             INSERT OVERWRITE TABLE $d1 SELECT SRC.key, sum(SUBSTR(SRC.value,5)) GROUP BY SRC.key
             INSERT OVERWRITE TABLE $d2 SELECT SRC.key, sum(SUBSTR(SRC.value,5)) GROUP BY SRC.key""")
        HiveQl.sql(s,
          s"""SELECT t.src AS src, t.key AS key, round(t.value, 2) AS value FROM (
              SELECT 1 AS src, key, value FROM $d1
              UNION ALL SELECT 2 AS src, key, value FROM $d2) t
              ORDER BY src, key""")
      },
      Some(s"""$SrcCte, agg AS (
          SELECT CAST(key AS INT) AS key,
                 round(sum(CAST(substr(value, 5) AS DOUBLE)), 2) AS value
          FROM src GROUP BY key)
        SELECT src, key, value FROM (
          SELECT 1 AS src, key, value FROM agg
          UNION ALL SELECT 2 AS src, key, value FROM agg) t
        ORDER BY src, key""")),

    // ---- clientpositive/input1_limit.q: multi-insert with a LIMIT in each
    //      branch. LIMIT without ORDER BY is arbitrary-row by contract, so
    //      the deterministic facts under oracle are the written COUNTS and
    //      the branch predicate holding on every written row
    QueryDef(
      "q152_qf_input1_limit",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_l1_$sfx", s"dest_l2_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src
             INSERT OVERWRITE TABLE $d1 SELECT src.key, src.value WHERE src.key < 100 LIMIT 10
             INSERT OVERWRITE TABLE $d2 SELECT src.key, src.value WHERE src.key < 100 LIMIT 5""")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(*) FROM $d1) AS n1,
                     (SELECT count(*) FROM $d2) AS n2,
                     (SELECT count(*) FROM $d1 WHERE key >= 100) AS bad1,
                     (SELECT count(*) FROM $d2 WHERE key >= 100) AS bad2""")
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n1, CAST(5 AS BIGINT) AS n2,
                     CAST(0 AS BIGINT) AS bad1, CAST(0 AS BIGINT) AS bad2""")),

    // ---- clientpositive/quote1.q: reserved words as identifiers under
    //      backticks everywhere — column names `location`/`type`, a
    //      PARTITION COLUMN named `table`, select aliases `partition` and
    //      `from`, a table alias `int`
    QueryDef(
      "q153_qf_quote1",
      (s, dir) => {
        val d = s"dest_q1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(`location` INT, `type` STRING) " +
          "PARTITIONED BY(`table` STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src
             INSERT OVERWRITE TABLE $d PARTITION(`table`='2008-04-08') SELECT src.key as `partition`, src.value as `from` WHERE src.key >= 200 and src.key < 300""")
        HiveQl.sql(s, s"SELECT `int`.`location`, `int`.`type`, `int`.`table` " +
          s"FROM $d `int` WHERE `int`.`table` = '2008-04-08' " +
          "ORDER BY `location`, `type`")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS location, value AS type,
               '2008-04-08' AS "table"
        FROM src
        WHERE CAST(key AS DOUBLE) >= 200 AND CAST(key AS DOUBLE) < 300
        ORDER BY location, type""")),

    // ---- clientpositive/nullgroup.q: global count over an empty filter
    //      result must be one row of 0, under all four map-aggr/skew SET
    //      permutations the .q sweeps
    QueryDef(
      "q154_qf_nullgroup",
      (s, dir) => {
        fixtures(s, dir)
        var last: DataFrame = null
        for (ma <- Seq("true", "false"); sk <- Seq("true", "false")) {
          HiveQl.sql(s, s"set hive.map.aggr=$ma")
          HiveQl.sql(s, s"set hive.groupby.skewindata=$sk")
          last = HiveQl.sql(s, "select count(1) AS c from src x where x.key > 9999")
        }
        last
      },
      Some(s"""$SrcCte
        SELECT count(1) AS c FROM src WHERE CAST(key AS DOUBLE) > 9999""")),

    // ---- clientpositive/groupby_ppr.q: partition-pruned (ds only — both
    //      hr partitions survive) count-DISTINCT + sum into a typed dest;
    //      concat of a string and a Hive double-sum exercises double
    //      rendering parity
    QueryDef(
      "q155_qf_groupby_ppr",
      (s, dir) => {
        val d = s"dest_gp_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src
             INSERT OVERWRITE TABLE $d
             SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), concat(substr(src.key,1,1),sum(substr(src.value,5)))
             WHERE src.ds = '2008-04-08'
             GROUP BY substr(src.key,1,1)""")
        HiveQl.sql(s, s"SELECT key, c1, c2 FROM $d ORDER BY key")
      },
      Some(s"""$SrcPartCte
        SELECT substr(key, 1, 1) AS key,
               CAST(count(DISTINCT substr(value, 5)) AS INT) AS c1,
               substr(key, 1, 1) ||
                 CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS VARCHAR) AS c2
        FROM srcpart WHERE ds = '2008-04-08'
        GROUP BY substr(key, 1, 1) ORDER BY key""")),

    // ---- clientpositive/ppd_gby.q: outer filter over an aggregating
    //      subquery — the groupby-pushdown shape (the c2 conjunct cannot
    //      push below the aggregate; the c1 conjuncts can)
    QueryDef(
      "q156_qf_ppd_gby",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.optimize.ppd=true")
        HiveQl.sql(s,
          """SELECT src1.c1
            FROM
            (SELECT src.value as c1, count(src.key) as c2 from src where src.value > 'val_10' group by src.value) src1
            WHERE src1.c1 > 'val_200' and (src1.c2 > 30 or src1.c1 < 'val_400') ORDER BY c1""")
      },
      Some(s"""$SrcCte
        SELECT c1 FROM
          (SELECT value AS c1, count(key) AS c2 FROM src
           WHERE value > 'val_10' GROUP BY value) t
        WHERE c1 > 'val_200' AND (c2 > 30 OR c1 < 'val_400') ORDER BY c1""")),

    // ---- clientpositive/input_testsequencefile.q: STORED AS SEQUENCEFILE
    //      DDL → the graft `hiveseq` FileFormat (the reference's
    //      HiveSequenceFileOutputFormat table layout: empty BytesWritable
    //      key + hivetext-coded Text row); full src round-trips through a
    //      genuine SequenceFile container
    QueryDef(
      "q157_qf_seqfile",
      (s, dir) => {
        val d = s"dest4_sequencefile_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "set mapred.output.compress=true")
        HiveQl.sql(s, "set mapred.output.compression.type=BLOCK")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d SELECT src.key, src.value")
        HiveQl.sql(s, "set mapred.output.compress=false")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src
        ORDER BY key, value""")),

    // ---- clientpositive/rcfile_union.q: `ROW FORMAT SERDE ColumnarSerDe
    //      STORED AS RCFILE` DDL (the serde strip + RCFILE→`hiverc`
    //      FileFormat mapping), LIMIT-10 insert, union readback of the two
    //      columns. LIMIT without ORDER BY is arbitrary-row, so the facts
    //      under oracle are the union count and every written (b,c) pair
    //      being a genuine src row (the round trip carries real pairs)
    QueryDef(
      "q158_qf_rcfile_union",
      (s, dir) => {
        val d = s"rcfile_uniontable_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s,
          s"""CREATE table $d (b STRING, c STRING)
             ROW FORMAT SERDE
               'org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe'
             STORED AS RCFILE""")
        HiveQl.sql(s,
          s"""FROM src
             INSERT OVERWRITE TABLE $d SELECT src.key, src.value LIMIT 10""")
        HiveQl.sql(s,
          s"""SELECT
               (SELECT count(*) FROM (
                  SELECT b AS cola FROM $d
                  UNION ALL
                  SELECT c AS cola FROM $d) s) AS n,
               (SELECT count(*) FROM $d x WHERE NOT EXISTS (
                  SELECT 1 FROM src
                  WHERE src.key = x.b AND src.value = x.c)) AS bad""")
      },
      Some("""SELECT CAST(20 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad""")),

    // ---- clientpositive/mapreduce1.q: the MAP ... USING script form
    //      (Hive.g trfmClause KW_MAP — TRANSFORM's map-phase spelling)
    //      through a real /bin/cat subprocess, with DISTRIBUTE BY +
    //      SORT BY shaping the shuffle, into a typed dest
    QueryDef(
      "q159_qf_mapreduce1",
      (s, dir) => {
        val d = s"dest_mr1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, ten INT, one INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src
             INSERT OVERWRITE TABLE $d
             MAP src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
             USING '/bin/cat' AS (tkey, ten, one, tvalue)
             DISTRIBUTE BY tvalue, tkey
             SORT BY ten, one""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, ten, one, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key,
               CAST(trunc(CAST(key AS DOUBLE) / 10) AS INT) AS ten,
               CAST(CAST(key AS DOUBLE) % 10 AS INT) AS one,
               value
        FROM src ORDER BY key, ten, one, value""")),

    // ---- clientpositive/groupby8.q: count-DISTINCT multi-insert into two
    //      dests, run under BOTH hive.multigroupby.singlemr settings (the
    //      .q's two passes; results must be identical)
    QueryDef(
      "q160_qf_groupby8",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_g8a_$sfx", s"dest_g8b_$sfx")
        var out: DataFrame = null
        for (singlemr <- Seq("false", "true")) {
          fresh(s, d1, d2)
          HiveQl.sql(s, s"set hive.multigroupby.singlemr=$singlemr")
          HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
          HiveQl.sql(s,
            s"""FROM SRC
               INSERT OVERWRITE TABLE $d1 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key
               INSERT OVERWRITE TABLE $d2 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key""")
          out = HiveQl.sql(s,
            s"""SELECT t.src AS src, t.key AS key, t.value AS value FROM (
                SELECT 1 AS src, key, value FROM $d1
                UNION ALL SELECT 2 AS src, key, value FROM $d2) t
                ORDER BY src, key""")
        }
        out
      },
      Some(s"""$SrcCte, agg AS (
          SELECT CAST(key AS INT) AS key,
                 CAST(count(DISTINCT substr(value, 5)) AS VARCHAR) AS value
          FROM src GROUP BY key)
        SELECT src, key, value FROM (
          SELECT 1 AS src, key, value FROM agg
          UNION ALL SELECT 2 AS src, key, value FROM agg) t
        ORDER BY src, key""")),

    // ---- clientpositive/union2.q: count over a self-UNION ALL (both
    //      subqueries map jobs on the same input)
    QueryDef(
      "q161_qf_union2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select count(1) AS c FROM (select s1.key as key, s1.value as value from src s1 UNION  ALL
             select s2.key as key, s2.value as value from src s2) unionsrc""")
      },
      Some(s"""$SrcCte
        SELECT count(1) AS c FROM (
          SELECT key, value FROM src UNION ALL SELECT key, value FROM src) u""")),

    // ---- clientpositive/join18.q: FULL OUTER join of two aggregating
    //      subqueries — count over src vs count-DISTINCT over the
    //      kv3-shaped src1 (empty-string keys join only each other)
    QueryDef(
      "q162_qf_join18",
      (s, dir) => {
        fixtures(s, dir)
        // readback aliases disambiguate the .q's duplicate output names
        // (key, value, key, value) for the column-sorted hash gate
        HiveQl.sql(s,
          """SELECT a.key AS a_key, a.value AS a_value, b.key AS b_key, b.value AS b_value
             FROM
              (
              SELECT src1.key as key, count(src1.value) AS value FROM src src1 group by src1.key
              ) a
             FULL OUTER JOIN
             (
              SELECT src2.key as key, count(distinct(src2.value)) AS value
              FROM src1 src2 group by src2.key
             ) b
             ON (a.key = b.key)
             ORDER BY a_key, b_key""")
      },
      Some(s"""$Src1Cte
        SELECT a.key AS a_key, a.value AS a_value, b.key AS b_key, b.value AS b_value
        FROM (SELECT key, count(value) AS value FROM src GROUP BY key) a
        FULL OUTER JOIN
             (SELECT key, count(DISTINCT value) AS value FROM src1 GROUP BY key) b
        ON a.key = b.key
        ORDER BY a_key NULLS FIRST, b_key NULLS FIRST""")),

    // ---- clientpositive/input8.q: NULL arithmetic through typed dest
    //      columns — 4 + NULL, string - NULL, NULL + NULL over the 25-row
    //      src1 all land as typed NULLs
    QueryDef(
      "q163_qf_input8",
      (s, dir) => {
        val d = s"dest_i8_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING, c2 INT, c3 DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src1
             INSERT OVERWRITE TABLE $d SELECT 4 + NULL, src1.key - NULL, NULL + NULL""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS c1, CAST(NULL AS INT) AS c2,
                     CAST(NULL AS DOUBLE) AS c3
              FROM nation ORDER BY c1""")),

    // ---- clientpositive/udf9.q: the DATEDIFF / DATE_ADD / DATE_SUB
    //      constant battery (leap years, month ends, timestamp-string
    //      inputs). kv1's key 86 is absent from this fixture's key space;
    //      81 plays its role (the q148 adaptation)
    QueryDef(
      "q164_qf_udf9",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT DATEDIFF('2008-12-31', '2009-01-01') AS d1, DATEDIFF('2008-03-01', '2008-02-28') AS d2,
                    DATEDIFF('2007-03-01', '2007-01-28') AS d3, DATEDIFF('2008-03-01 23:59:59', '2008-03-02 00:00:00') AS d4,
                    DATE_ADD('2008-12-31', 1) AS a1, DATE_ADD('2008-12-31', 365) AS a2,
                    DATE_ADD('2008-02-28', 2) AS a3, DATE_ADD('2009-02-28', 2) AS a4,
                    DATE_ADD('2007-02-28', 365) AS a5, DATE_ADD('2007-02-28 23:59:59', 730) AS a6,
                    DATE_SUB('2009-01-01', 1) AS s1, DATE_SUB('2009-01-01', 365) AS s2,
                    DATE_SUB('2008-02-28', 2) AS s3, DATE_SUB('2009-02-28', 2) AS s4,
                    DATE_SUB('2007-02-28', 365) AS s5, DATE_SUB('2007-02-28 01:12:34', 730) AS s6
                    FROM src WHERE src.key = 81""")
      },
      Some(s"""$SrcCte
        SELECT -1 AS d1, 2 AS d2, 32 AS d3, -1 AS d4,
               DATE '2009-01-01' AS a1, DATE '2009-12-31' AS a2,
               DATE '2008-03-01' AS a3, DATE '2009-03-02' AS a4,
               DATE '2008-02-28' AS a5, DATE '2009-02-27' AS a6,
               DATE '2008-12-31' AS s1, DATE '2008-01-02' AS s2,
               DATE '2008-02-26' AS s3, DATE '2009-02-26' AS s4,
               DATE '2006-02-28' AS s5, DATE '2005-02-28' AS s6
        FROM src WHERE CAST(key AS DOUBLE) = 81""")),

    // ---- clientpositive/union.q: map-only UNION ALL subqueries into
    //      INSERT OVERWRITE DIRECTORY — the readback then reads the
    //      directory's Hive-text files back through the hivetext
    //      FileFormat (the .q's `dfs -cat` check, engine-side)
    QueryDef(
      "q165_qf_union",
      (s, dir) => {
        fixtures(s, dir)
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_qf_union_${dir.hashCode & Int.MaxValue}")
        org.apache.commons.io.FileUtils.deleteQuietly(out)
        HiveQl.sql(s,
          s"""FROM (
               FROM src select src.key, src.value WHERE src.key < 100
               UNION ALL
               FROM src SELECT src.* WHERE src.key > 100
             ) unioninput
             INSERT OVERWRITE DIRECTORY '${out.getAbsolutePath}' SELECT unioninput.*""")
        s.read.format("graft.sources.HiveTextSource")
          .schema("key STRING, value STRING").load(out.getAbsolutePath)
          .orderBy("key", "value")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src WHERE CAST(key AS DOUBLE) < 100
          UNION ALL
          SELECT key, value FROM src WHERE CAST(key AS DOUBLE) > 100) u
        ORDER BY key, value""")),

    // ---- clientpositive/groupby6.q: SELECT DISTINCT of a 1-char substring
    //      into a dest, under the skew-groupby SETs
    QueryDef(
      "q166_qf_groupby6",
      (s, dir) => {
        val d = s"dest_g6_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "set hive.map.aggr=false")
        HiveQl.sql(s, "set hive.groupby.skewindata=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"FROM src INSERT OVERWRITE TABLE $d SELECT DISTINCT substr(src.value,5,1)")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1")
      },
      Some(s"""$SrcCte
        SELECT DISTINCT substr(value, 5, 1) AS c1 FROM src ORDER BY c1""")),

    // ---- clientpositive/input14.q: TRANSFORM through /bin/cat inside a
    //      FROM-subquery with CLUSTER BY, outer WHERE over the script's
    //      string output (Hive double coercion for tkey < 100)
    QueryDef(
      "q167_qf_input14",
      (s, dir) => {
        val d = s"dest_i14_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM src
               SELECT TRANSFORM(src.key, src.value)
                      USING '/bin/cat' AS (tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             INSERT OVERWRITE TABLE $d SELECT tmap.tkey, tmap.tvalue WHERE tmap.tkey < 100""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src
        WHERE CAST(key AS DOUBLE) < 100 ORDER BY key, value""")),

    // ---- clientpositive/scriptfile1.q: ADD FILE a user script, then
    //      TRANSFORM USING the BARE script name (Hive resolves it from the
    //      distributed cache; the dialect resolves it from the session's
    //      added files). The script is the .q's own 4-line testgrep
    //      (ql/src/test/scripts/testgrep: egrep '10.*')
    QueryDef(
      "q168_qf_scriptfile1",
      (s, dir) => {
        val d = s"dest_sf1_${fixtures(s, dir)}"
        fresh(s, d)
        val script = new java.io.File(
          System.getProperty("java.io.tmpdir"), "testgrep")
        java.nio.file.Files.write(script.toPath,
          "#!/bin/bash\n\negrep '10.*'\n\nexit 0;\n".getBytes("UTF-8"))
        script.setExecutable(true)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING)")
        s.sql(s"ADD FILE '${script.getAbsolutePath}'")
        HiveQl.sql(s,
          s"""FROM (
               FROM src
               SELECT TRANSFORM(src.key, src.value)
                      USING 'testgrep' AS (tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             INSERT OVERWRITE TABLE $d SELECT tmap.tkey, tmap.tvalue""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src
        WHERE (key || CHR(9) || value) SIMILAR TO '.*10.*'
        ORDER BY key, value""")),

    // ---- clientpositive/ctas.q: CREATE TABLE AS SELECT in four spellings
    //      — plain, `row format serde ColumnarSerDe stored as RCFile`,
    //      `row format delimited fields terminated by ',' stored as
    //      textfile`, and IF NOT EXISTS over an existing table (a no-op:
    //      ctas3 keeps its 10 rows, not the second statement's 2).
    //      SORT BY + LIMIT picks arbitrary rows by contract, so the oracle
    //      facts are per-table counts and src membership
    QueryDef(
      "q169_qf_ctas",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t3, t4) = (s"nzhang_ctas1_$sfx", s"nzhang_ctas3_$sfx", s"nzhang_ctas4_$sfx")
        fresh(s, t1, t3, t4)
        HiveQl.sql(s,
          s"create table $t1 as select key k, value from src sort by k, value limit 10")
        HiveQl.sql(s,
          s"""create table $t3 row format serde "org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe" stored as RCFile as select key/2 half_key, concat(value, "_con") conb  from src sort by half_key, conb limit 10""")
        // IF NOT EXISTS over the existing ctas3: must be a no-op
        HiveQl.sql(s,
          s"create table if not exists $t3 as select key, value from src sort by key, value limit 2")
        HiveQl.sql(s,
          s"create table $t4 row format delimited fields terminated by ',' stored as textfile as select key, value from src sort by key, value limit 10")
        HiveQl.sql(s,
          s"""SELECT
            (SELECT count(*) FROM $t1) AS n1,
            (SELECT count(*) FROM $t3) AS n3,
            (SELECT count(*) FROM $t4) AS n4,
            (SELECT count(*) FROM $t1 x WHERE NOT EXISTS (
               SELECT 1 FROM src WHERE src.key = x.k AND src.value = x.value)) AS bad1,
            (SELECT count(*) FROM $t3 x WHERE NOT EXISTS (
               SELECT 1 FROM src
               WHERE src.key / 2 = x.half_key
                 AND concat(src.value, '_con') = x.conb)) AS bad3,
            (SELECT count(*) FROM $t4 x WHERE NOT EXISTS (
               SELECT 1 FROM src WHERE src.key = x.key AND src.value = x.value)) AS bad4""")
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n1, CAST(10 AS BIGINT) AS n3,
                     CAST(10 AS BIGINT) AS n4, CAST(0 AS BIGINT) AS bad1,
                     CAST(0 AS BIGINT) AS bad3, CAST(0 AS BIGINT) AS bad4""")),

    // ---- clientpositive/smb_mapjoin_3.q: CLUSTERED+SORTED RCFILE tables
    //      populated by LOAD DATA from the REFERENCE'S OWN .rc files
    //      (data/files/smbbucket_*.rc, written by Hive's RCFile writer —
    //      the interchange path end-to-end), then the .q's four join
    //      flavors with the MAPJOIN hint. Oracle: the same joins over the
    //      files' contents (pinned byte-exactly in QFileParitySpec)
    QueryDef(
      "q170_qf_smb_rcfile",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (b2, b3) = (s"smb_bucket_2_$sfx", s"smb_bucket_3_$sfx")
        fresh(s, b2, b3)
        for (t <- Seq(b2 -> "smbbucket_2.rc", b3 -> "smbbucket_3.rc")) {
          HiveQl.sql(s, s"create table ${t._1}(key int, value string) " +
            "CLUSTERED BY (key) SORTED BY (key) INTO 1 BUCKETS STORED AS RCFILE")
          HiveQl.sql(s,
            s"load data local inpath '$RefData/${t._2}' " +
              s"overwrite into table ${t._1}")
        }
        // foreign-loaded files carry no Spark bucket ids in their names —
        // read them as plain files (Hive trusts the load blindly too)
        s.sql("SET spark.sql.sources.bucketing.enabled=false")
        val out = HiveQl.sql(s,
          s"""SELECT 1 AS jt, a.key AS a_key, a.value AS a_value, b.key AS b_key, b.value AS b_value
              FROM $b2 a JOIN $b3 b ON a.key = b.key
              UNION ALL
              SELECT 2, a.key, a.value, b.key, b.value
              FROM $b2 a LEFT OUTER JOIN $b3 b ON a.key = b.key
              UNION ALL
              SELECT 3, a.key, a.value, b.key, b.value
              FROM $b2 a RIGHT OUTER JOIN $b3 b ON a.key = b.key
              UNION ALL
              SELECT 4, a.key, a.value, b.key, b.value
              FROM $b2 a FULL OUTER JOIN $b3 b ON a.key = b.key
              ORDER BY jt, a_key, b_key""")
        // execute NOW, while bucketed scans are off (plans are lazy — a
        // later conf flip would re-plan the full-outer as a bucketed scan
        // over files with no Spark bucket ids and read them as empty)
        val snap = out.localCheckpoint(true)
        s.sql("SET spark.sql.sources.bucketing.enabled=true")
        snap
      },
      Some("""WITH b2(key, value) AS (VALUES
          (20,'val_20'),(23,'val_23'),(25,'val_25'),(30,'val_30')),
        b3(key, value) AS (VALUES
          (4,'val_4'),(10,'val_10'),(17,'val_17'),(19,'val_19'),
          (20,'val_20'),(23,'val_23'))
        SELECT jt, a_key, a_value, b_key, b_value FROM (
          SELECT 1 AS jt, a.key AS a_key, a.value AS a_value,
                 b.key AS b_key, b.value AS b_value
          FROM b2 a JOIN b3 b ON a.key = b.key
          UNION ALL
          SELECT 2, a.key, a.value, b.key, b.value
          FROM b2 a LEFT OUTER JOIN b3 b ON a.key = b.key
          UNION ALL
          SELECT 3, a.key, a.value, b.key, b.value
          FROM b2 a RIGHT OUTER JOIN b3 b ON a.key = b.key
          UNION ALL
          SELECT 4, a.key, a.value, b.key, b.value
          FROM b2 a FULL OUTER JOIN b3 b ON a.key = b.key) u
        ORDER BY jt, a_key NULLS FIRST, b_key NULLS FIRST""")),

    // ---- clientpositive/alter2.q: ADD PARTITION with explicit LOCATION on
    //      managed and EXTERNAL partitioned tables, SHOW PARTITIONS after
    //      each step; the .q's relative '2008/01/01' locations resolve
    //      against the table dir (Hive's resolution rule), spelled
    //      table-relative here
    QueryDef(
      "q171_qf_alter2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
        var stage = 0
        for (external <- Seq(false, true)) {
          val t = s"alter2_${if (external) "e" else "m"}_$sfx"
          fresh(s, t)
          val base = java.nio.file.Files.createTempDirectory("alter2_loc")
          val ext =
            if (external) {
              java.nio.file.Files.createDirectories(base.resolve("tbl"))
              s" LOCATION '${base.resolve("tbl")}'"
            } else ""
          HiveQl.sql(s, s"create ${if (external) "external " else ""}table $t" +
            s"(a int, b int) partitioned by (insertdate string) STORED AS TEXTFILE$ext")
          def snap(): Unit = {
            stage += 1
            val ps = HiveQl.sql(s, s"show partitions $t").collect()
              .map(_.getString(0)).sorted
            rows += ((stage, ps.length, ps.mkString(",")))
          }
          snap()
          HiveQl.sql(s, s"alter table $t add partition (insertdate='2008-01-01') " +
            s"location '${base.resolve("2008/01/01")}'")
          snap()
          HiveQl.sql(s, s"alter table $t add partition (insertdate='2008-01-02') " +
            s"location '${base.resolve("2008/01/02")}'")
          snap()
        }
        val session = s
        import session.implicits._
        rows.toSeq.toDF("stage", "n", "parts").orderBy("stage")
      },
      Some("""SELECT stage, n, parts FROM (VALUES
          (1, 0, ''),
          (2, 1, 'insertdate=2008-01-01'),
          (3, 2, 'insertdate=2008-01-01,insertdate=2008-01-02'),
          (4, 0, ''),
          (5, 1, 'insertdate=2008-01-01'),
          (6, 2, 'insertdate=2008-01-01,insertdate=2008-01-02'))
          v(stage, n, parts) ORDER BY stage""")),

    // ---- clientpositive/input_testxpath.q over the REFERENCE'S OWN
    //      src_thrift fixture (complex.seq, TBinaryProtocol Complex rows
    //      decoded by sources.HiveThriftSeq): array index, struct field
    //      through an array, map lookup — incl. the all-null record.
    //      Oracle: CreateSequenceFile.java's deterministic derivation
    //      (lint=[i,2i,3i], lintstring=[{i²,'i³',i}], map {key_i: value_i})
    QueryDef(
      "q172_qf_testxpath",
      (s, dir) => {
        val d = s"dest_xp_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, mapvalue STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src_thrift
             INSERT OVERWRITE TABLE $d SELECT src_thrift.lint[1], src_thrift.lintstring[0].mystring, src_thrift.mstringstring['key_2']""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value, mapvalue")
      },
      Some("""SELECT key, value, mapvalue FROM (VALUES
          (0, '0', NULL), (2, '1', NULL), (4, '8', 'value_2'), (6, '27', NULL),
          (8, '64', NULL), (10, '125', NULL), (12, '216', NULL),
          (14, '343', NULL), (16, '512', NULL), (18, '729', NULL),
          (NULL, NULL, NULL))
          v(key, value, mapvalue)
        ORDER BY key NULLS FIRST, value NULLS FIRST, mapvalue NULLS FIRST""")),

    // ---- clientpositive/input_testxpath2.q: size() over the complex
    //      columns with the null record filtered the .q's own way
    QueryDef(
      "q173_qf_testxpath2",
      (s, dir) => {
        val d = s"dest_xp2_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(lint_size INT, lintstring_size INT, mstringstring_size INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src_thrift
             INSERT OVERWRITE TABLE $d SELECT size(src_thrift.lint), size(src_thrift.lintstring), size(src_thrift.mstringstring) where src_thrift.lint IS NOT NULL AND NOT (src_thrift.mstringstring IS NULL)""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY lint_size")
      },
      Some("""SELECT 3 AS lint_size, 1 AS lintstring_size,
                     1 AS mstringstring_size
              FROM range(10) ORDER BY lint_size""")),

    // ---- clientpositive/case_sensitivity.q: mixed-case identifiers over
    //      the thrift fixture — SRC_THRIFT / src_Thrift / liNT / MYSTRING
    //      must all resolve case-insensitively, through complex accessors
    QueryDef(
      "q174_qf_case_sensitivity",
      (s, dir) => {
        val d = s"dest_cs_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE ${d.toUpperCase}(Key INT, VALUE STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM SRC_THRIFT
             INSERT OVERWRITE TABLE $d SELECT src_Thrift.LINT[1], src_thrift.lintstring[0].MYSTRING where src_thrift.liNT[0] > 0""")
        // Hive lowercases identifiers at DDL time; Spark preserves the
        // declared case, so the readback aliases back to the .q's names
        HiveQl.sql(s, s"SELECT Key AS key, VALUE AS value FROM ${d.capitalize} ORDER BY key")
      },
      Some("""SELECT key, value FROM (VALUES
          (2, '1'), (4, '8'), (6, '27'), (8, '64'), (10, '125'),
          (12, '216'), (14, '343'), (16, '512'), (18, '729'))
          v(key, value) ORDER BY key""")),

    // ---- clientpositive/nullinput.q: selects and grouped counts over a
    //      just-created EMPTY table (readback wraps the verbatim selects in
    //      counts — a 0-row grouped aggregate must stay 0 rows, not 1)
    QueryDef(
      "q175_qf_nullinput",
      (s, dir) => {
        val t = s"tstnullinut_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(a string, b string)")
        HiveQl.sql(s, s"select x.* from $t x")
        HiveQl.sql(s, s"select x.a, count(1) from $t x group by x.a")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(*) FROM $t x) AS n_rows,
                     (SELECT count(*) FROM (
                        SELECT x.a, count(1) FROM $t x GROUP BY x.a)) AS n_groups""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_groups")),

    // ---- clientpositive/input9.q: WHERE NULL = NULL is UNKNOWN — the
    //      insert lands zero rows
    QueryDef(
      "q176_qf_input9",
      (s, dir) => {
        val d = s"dest_i9_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(value STRING, key INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"FROM src1 INSERT OVERWRITE TABLE $d SELECT NULL, src1.key where NULL = NULL")
        HiveQl.sql(s, s"SELECT $d.* FROM $d")
        HiveQl.sql(s, s"SELECT count(*) AS n FROM $d")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/udf_length.q: length() over the kv3-shaped src1
    //      (empty strings are length 0) AND over a LOADed non-ascii file
    //      (data/files/kv4.txt: two 3-byte UTF-8 chars — length counts
    //      CHARACTERS, 2, not bytes)
    QueryDef(
      "q177_qf_udf_length",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_len_$sfx", s"dest_len4_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, "DESCRIBE FUNCTION length")
        HiveQl.sql(s, s"CREATE TABLE $d1(len INT)")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d1 SELECT length(src1.value)")
        HiveQl.sql(s, s"CREATE TABLE $d2(name STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/kv4.txt' INTO TABLE $d2")
        HiveQl.sql(s,
          s"""SELECT 1 AS src, len FROM $d1
              UNION ALL SELECT 2 AS src, length($d2.name) AS len FROM $d2
              ORDER BY src, len""")
      },
      Some(s"""$Src1Cte
        SELECT src, len FROM (
          SELECT 1 AS src, length(value) AS len FROM src1
          UNION ALL SELECT 2 AS src, 2 AS len) u
        ORDER BY src, len""")),

    // ---- clientpositive/join_filters.q (representative 8 of its 112
    //      selects): ON-clause FILTER placement on inner and outer joins
    //      over NULL-bearing in3.txt — outer joins must keep unmatched
    //      rows when the ON filter rejects the match (the classic
    //      ON-vs-WHERE distinction), pure-filter ON clauses plan as
    //      filtered nested-loop joins. Dest table spelled STORED AS
    //      TEXTFILE (Hive's default format for the .q's bare CREATE)
    QueryDef(
      "q178_qf_join_filters",
      (s, dir) => {
        val t = s"myinput1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/in3.txt' INTO TABLE $t")
        val joins = Seq(
          "JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "LEFT OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "RIGHT OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "FULL OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "JOIN" -> "a.key = b.value AND a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "JOIN" -> "a.key = b.key AND a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "LEFT OUTER JOIN" -> "a.key = b.key AND b.key > 40",
          "RIGHT OUTER JOIN" -> "a.key = b.key AND a.key > 40")
        val sql = joins.zipWithIndex.map { case ((jk, cond), i) =>
          s"""SELECT ${i + 1} AS jt, a.key AS a_key, a.value AS a_value,
                     b.key AS b_key, b.value AS b_value
              FROM $t a $jk $t b ON $cond"""
        }.mkString("\nUNION ALL\n") +
          "\nORDER BY jt, a_key, a_value, b_key, b_value"
        HiveQl.sql(s, sql)
      },
      Some {
        val joins = Seq(
          "JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "LEFT OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "RIGHT OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "FULL OUTER JOIN" -> "a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "JOIN" -> "a.key = b.value AND a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "JOIN" -> "a.key = b.key AND a.key > 40 AND a.value > 50 AND a.key = a.value AND b.key > 40 AND b.value > 50 AND b.key = b.value",
          "LEFT OUTER JOIN" -> "a.key = b.key AND b.key > 40",
          "RIGHT OUTER JOIN" -> "a.key = b.key AND a.key > 40")
        """WITH m(key, value) AS (VALUES
            (12, 35), (CAST(NULL AS INT), 40),
            (48, CAST(NULL AS INT)), (100, 100))
          SELECT jt, a_key, a_value, b_key, b_value FROM (""" +
          joins.zipWithIndex.map { case ((jk, cond), i) =>
            s"""SELECT ${i + 1} AS jt, a.key AS a_key, a.value AS a_value,
                       b.key AS b_key, b.value AS b_value
                FROM m a $jk m b ON $cond"""
          }.mkString("\nUNION ALL\n") +
          """) u ORDER BY jt, a_key NULLS FIRST, a_value NULLS FIRST,
             b_key NULLS FIRST, b_value NULLS FIRST"""
      }),

    // ---- clientpositive/rename_column.q: ALTER TABLE CHANGE in all its
    //      forms — rename, retype, COMMENT, FIRST / AFTER repositioning —
    //      with a DESCRIBE snapshot after each step
    QueryDef(
      "q179_qf_rename_column",
      (s, dir) => {
        val t = s"kv_rename_test_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(a int, b int, c int)")
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        var stage = 0
        def snap(): Unit = {
          stage += 1
          val cols = HiveQl.sql(s, s"DESCRIBE $t").collect()
            .map(r => s"${r.getString(0)} ${r.getString(1)}").mkString(",")
          rows += ((stage, cols))
        }
        snap()
        for (stmt <- Seq(
            s"ALTER TABLE $t CHANGE a a STRING",
            s"ALTER TABLE $t CHANGE a a1 INT",
            s"ALTER TABLE $t CHANGE a1 a2 INT FIRST",
            s"ALTER TABLE $t CHANGE a2 a INT AFTER b",
            s"ALTER TABLE $t CHANGE a a1 INT COMMENT 'test comment1'",
            s"ALTER TABLE $t CHANGE a1 a2 INT COMMENT 'test comment2' FIRST",
            s"ALTER TABLE $t CHANGE COLUMN a2 a INT AFTER b")) {
          HiveQl.sql(s, stmt)
          snap()
        }
        val session = s
        import session.implicits._
        rows.toSeq.toDF("stage", "cols").orderBy("stage")
      },
      Some("""SELECT stage, cols FROM (VALUES
          (1, 'a int,b int,c int'),
          (2, 'a string,b int,c int'),
          (3, 'a1 int,b int,c int'),
          (4, 'a2 int,b int,c int'),
          (5, 'b int,a int,c int'),
          (6, 'b int,a1 int,c int'),
          (7, 'a2 int,b int,c int'),
          (8, 'b int,a int,c int'))
          v(stage, cols) ORDER BY stage""")),

    // ================= round-11 battery growth: join family =============
    // (VERDICT r10 #3: the families with the highest divergence yield)

    // ---- clientpositive/join0.q: ON-less JOIN of two filtered subqueries
    //      (a genuine cross join) — string key < int 10 coerces to DOUBLE
    //      on both engines; the .q's SORT BY becomes a total ORDER BY for
    //      the hash gate (the documented readback adaptation)
    QueryDef(
      "q180_qf_join0",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.key as k1, src1.value as v1,
                    src2.key as k2, src2.value as v2 FROM
               (SELECT * FROM src WHERE src.key < 10) src1
                 JOIN
               (SELECT * FROM src WHERE src.key < 10) src2
               ORDER BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT s1.key AS k1, s1.value AS v1, s2.key AS k2, s2.value AS v2
        FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) < 10) s1,
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) < 10) s2
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/join1.q: the corpus' canonical INSERT-through-
    //      join — self equi-join on the string key, string->INT dest cast
    QueryDef(
      "q181_qf_join1",
      (s, dir) => {
        val d = s"dest_jq1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src src1 JOIN src src2 ON (src1.key = src2.key) " +
          s"INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(s1.key AS INT) AS key, s2.value AS value
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        ORDER BY key, value""")),

    // ---- clientpositive/join4.q: Hive FROM-SELECT subqueries composed
    //      under a LEFT OUTER JOIN, whole composition re-selected through
    //      an outer FROM and inserted — the left side's (10,20) band keeps
    //      unmatched rows with NULL c3/c4
    QueryDef(
      "q182_qf_join4",
      (s, dir) => {
        val d = s"dest_jq4_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               LEFT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
              ) c
              INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte
        SELECT CAST(a.key AS INT) AS c1, a.value AS c2,
               CAST(b.key AS INT) AS c3, b.value AS c4
        FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20) a
        LEFT OUTER JOIN
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
        ON a.key = b.key
        ORDER BY c1, c2, c3 NULLS FIRST, c4 NULLS FIRST""")),

    // ---- clientpositive/join5.q: the RIGHT OUTER twin of join4 — NULL
    //      c1/c2 for right rows in (20,25)
    QueryDef(
      "q183_qf_join5",
      (s, dir) => {
        val d = s"dest_jq5_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               RIGHT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
              ) c
              INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte
        SELECT CAST(a.key AS INT) AS c1, a.value AS c2,
               CAST(b.key AS INT) AS c3, b.value AS c4
        FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20) a
        RIGHT OUTER JOIN
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
        ON a.key = b.key
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3, c4""")),

    // ---- clientpositive/join6.q: the FULL OUTER member of the family —
    //      both bands contribute unmatched NULL-extended rows
    QueryDef(
      "q184_qf_join6",
      (s, dir) => {
        val d = s"dest_jq6_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               FULL OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
              ) c
              INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte
        SELECT CAST(a.key AS INT) AS c1, a.value AS c2,
               CAST(b.key AS INT) AS c3, b.value AS c4
        FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20) a
        FULL OUTER JOIN
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
        ON a.key = b.key
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST, c4 NULLS FIRST""")),

    // ---- clientpositive/join7.q: FULL OUTER then LEFT OUTER chained over
    //      three FROM-SELECT subqueries — the left-join probe side is the
    //      FULL OUTER's preserved a-side, so b-only rows keep NULL c5/c6
    QueryDef(
      "q185_qf_join7",
      (s, dir) => {
        val d = s"dest_jq7_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING, c5 INT, c6 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               FULL OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               LEFT OUTER JOIN
               (
                FROM src src3 SELECT src3.key AS c5, src3.value AS c6 WHERE src3.key > 20 and src3.key < 25
               ) c
               ON (a.c1 = c.c5)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4, c.c5 AS c5, c.c6 AS c6
              ) c
              INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4, c.c5, c.c6""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4, c5, c6")
      },
      Some(s"""$SrcCte
        SELECT CAST(a.key AS INT) AS c1, a.value AS c2,
               CAST(b.key AS INT) AS c3, b.value AS c4,
               CAST(c.key AS INT) AS c5, c.value AS c6
        FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20) a
        FULL OUTER JOIN
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
        ON a.key = b.key
        LEFT OUTER JOIN
             (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 20 AND CAST(key AS DOUBLE) < 25) c
        ON a.key = c.key
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
                 c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST""")),

    // ---- clientpositive/join8.q: join4's composition filtered to the
    //      ANTI rows (c3 IS NULL AND c1 IS NOT NULL) at insert time — the
    //      left-outer-as-anti-join idiom. ADAPTATION (q149-style, documented):
    //      the .q's (10,20) left band contains only key 16 under our
    //      quadratic-residue fixture and 16 always matches, leaving the
    //      anti set empty (a vacuous oracle); kv1.txt's band has unmatched
    //      keys 11/12/15. The left bound drops to 0 so the anti set is
    //      non-empty ({1,4,9}) — the operator shape is untouched.
    QueryDef(
      "q186_qf_join8",
      (s, dir) => {
        val d = s"dest_jq8_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 0 and src1.key < 20
                ) a
               LEFT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
              ) c
              INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4 where c.c3 IS NULL AND c.c1 IS NOT NULL""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2")
      },
      Some(s"""$SrcCte
        SELECT c1, c2, c3, c4 FROM (
          SELECT CAST(a.key AS INT) AS c1, a.value AS c2,
                 CAST(b.key AS INT) AS c3, b.value AS c4
          FROM (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 0 AND CAST(key AS DOUBLE) < 20) a
          LEFT OUTER JOIN
               (SELECT * FROM src WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
          ON a.key = b.key) t
        WHERE c3 IS NULL AND c1 IS NOT NULL
        ORDER BY c1, c2""")),

    // ---- clientpositive/join12.q: three aliased subqueries, each ON
    //      carrying an extra range conjunct (c1 < 100, c5 < 80) — inner
    //      joins, so the conjuncts behave as pushable filters
    QueryDef(
      "q187_qf_join12",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100
             JOIN
             (SELECT src.key as c5, src.value as c6 from src) src3
             ON src1.c1 = src3.c5 AND src3.c5 < 80
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT s1.key AS c1, s2.value AS c4
        FROM src s1 JOIN src s2 ON s1.key = s2.key AND CAST(s1.key AS DOUBLE) < 100
        JOIN src s3 ON s1.key = s3.key AND CAST(s3.key AS DOUBLE) < 80
        ORDER BY c1, c4""")),

    // ---- clientpositive/join13.q: the third join's key is an EXPRESSION
    //      over both earlier sides (c1 + c3 = c5) — string operands coerce
    //      to DOUBLE for + and =
    QueryDef(
      "q188_qf_join13",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100
             JOIN
             (SELECT src.key as c5, src.value as c6 from src) src3
             ON src1.c1 + src2.c3 = src3.c5 AND src3.c5 < 200
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT s1.key AS c1, s2.value AS c4
        FROM src s1 JOIN src s2 ON s1.key = s2.key AND CAST(s1.key AS DOUBLE) < 100
        JOIN src s3
          ON CAST(s1.key AS DOUBLE) + CAST(s2.key AS DOUBLE) = CAST(s3.key AS DOUBLE)
         AND CAST(s3.key AS DOUBLE) < 200
        ORDER BY c1, c4""")),

    // ---- clientpositive/join14.q: src x srcpart with a partition-column
    //      conjunct INSIDE the ON (ds = '2008-04-08') plus a numeric range
    //      on the probe side — partition pruning from an ON clause
    QueryDef(
      "q189_qf_join14",
      (s, dir) => {
        val d = s"dest_jq14_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src JOIN srcpart ON src.key = srcpart.key AND srcpart.ds = '2008-04-08' and src.key > 100
              INSERT OVERWRITE TABLE $d SELECT src.key, srcpart.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(src.key AS INT) AS c1, srcpart.value AS c2
        FROM src JOIN srcpart
          ON src.key = srcpart.key AND srcpart.ds = '2008-04-08'
         AND CAST(src.key AS DOUBLE) > 100
        ORDER BY c1, c2""")),

    // ---- clientpositive/join17.q: SELECT src1.*, src2.* through a wide
    //      typed dest — star expansion across join sides into INT/STRING
    //      column pairs
    QueryDef(
      "q190_qf_join17",
      (s, dir) => {
        val d = s"dest_jq17_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key1 INT, value1 STRING, key2 INT, value2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src src1 JOIN src src2 ON (src1.key = src2.key) " +
          s"INSERT OVERWRITE TABLE $d SELECT src1.*, src2.*")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key1, value1, key2, value2")
      },
      Some(s"""$SrcCte
        SELECT CAST(s1.key AS INT) AS key1, s1.value AS value1,
               CAST(s2.key AS INT) AS key2, s2.value AS value2
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        ORDER BY key1, value1, key2, value2""")),

    // ---- clientpositive/join20.q: INNER then RIGHT OUTER with range
    //      conjuncts in BOTH ONs — the inner join's conjunct must not
    //      filter right-side-preserved rows; output columns dealiased for
    //      the gate (join18 pattern)
    QueryDef(
      "q191_qf_join20",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2, src3.key AS k3, src3.value AS v3
             FROM src src1 JOIN src src2 ON (src1.key = src2.key AND src1.key < 10)
             RIGHT OUTER JOIN src src3 ON (src1.key = src3.key AND src3.key < 20)
             ORDER BY k1, v1, k2, v2, k3, v3""")
      },
      Some(s"""$SrcCte
        SELECT a.k1, a.v1, a.k2, a.v2, s3.key AS k3, s3.value AS v3
        FROM (SELECT s1.key AS k1, s1.value AS v1, s2.key AS k2, s2.value AS v2
              FROM src s1 JOIN src s2
                ON s1.key = s2.key AND CAST(s1.key AS DOUBLE) < 10) a
        RIGHT OUTER JOIN src s3
          ON a.k1 = s3.key AND CAST(s3.key AS DOUBLE) < 20
        ORDER BY k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
                 v2 NULLS FIRST, k3, v3""")),

    // ================= round-11 battery growth: ppd family ==============
    // (predicate-pushdown correctness: the .q pairs run each query under
    // both hive.ppd.remove.duplicatefilters settings and expect identical
    // rows — here Catalyst owns pushdown, so the parity claim is that the
    // PUSHED plan still computes Hive's answer)

    // ---- clientpositive/ppd1.q: STRING-comparison filter ('2' is a
    //      string literal — lexicographic, NOT numeric: '19' < '2')
    QueryDef(
      "q192_qf_ppd1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT src.key as c3 from src where src.key > '2' ORDER BY c3")
      },
      Some(s"""$SrcCte
        SELECT key AS c3 FROM src WHERE key > '2' ORDER BY c3""")),

    // ---- clientpositive/ppd_gby2.q: filter over a grouped subquery with
    //      a mixed pushable/unpushable conjunct (c1 > 'val_200' pushes
    //      below the outer agg; the OR over count must not)
    QueryDef(
      "q193_qf_ppd_gby2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT max(src1.c1) AS m, src1.c2
             FROM
             (SELECT src.value AS c1, count(src.key) AS c2 FROM src WHERE src.value > 'val_10' GROUP BY src.value) src1
             WHERE src1.c1 > 'val_200' AND (src1.c2 > 30 OR src1.c1 < 'val_400')
             GROUP BY src1.c2
             ORDER BY m, c2""")
      },
      Some(s"""$SrcCte
        SELECT max(c1) AS m, c2 FROM
          (SELECT value AS c1, CAST(count(key) AS BIGINT) AS c2
           FROM src WHERE value > 'val_10' GROUP BY value) t
        WHERE c1 > 'val_200' AND (c2 > 30 OR c1 < 'val_400')
        GROUP BY c2 ORDER BY m, c2""")),

    // ---- clientpositive/ppd_join.q: filtered subqueries under a join
    //      with an ON range conjunct plus a 4-conjunct WHERE mixing both
    //      sides (all STRING comparisons)
    QueryDef(
      "q194_qf_ppd_join",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src where src.key > '1' ) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src where src.key > '2' ) src2
             ON src1.c1 = src2.c3 AND src1.c1 < '400'
             WHERE src1.c1 > '20' and (src1.c2 < 'val_50' or src1.c1 > '2') and (src2.c3 > '50' or src1.c1 < '50') and (src2.c3 <> '4')
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT s1.key AS c1, s2.value AS c4
        FROM (SELECT key, value FROM src WHERE key > '1') s1
        JOIN (SELECT key, value FROM src WHERE key > '2') s2
          ON s1.key = s2.key AND s1.key < '400'
        WHERE s1.key > '20' AND (s1.value < 'val_50' OR s1.key > '2')
          AND (s2.key > '50' OR s1.key < '50') AND s2.key <> '4'
        ORDER BY c1, c4""")),

    // ---- clientpositive/ppd_join2.q: three-way with a VALUE-keyed third
    //      join (c2 = c6) and a sqrt() conjunct — pushdown must respect
    //      the non-key join and the non-deterministic-looking UDF
    QueryDef(
      "q195_qf_ppd_join2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src where src.key <> '302' ) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src where src.key <> '305' ) src2
             ON src1.c1 = src2.c3 AND src1.c1 < '400'
             JOIN
             (SELECT src.key as c5, src.value as c6 from src where src.key <> '306' ) src3
             ON src1.c2 = src3.c6
             WHERE src1.c1 <> '311' and (src1.c2 <> 'val_50' or src1.c1 > '1') and (src2.c3 <> '10' or src1.c1 <> '10') and (src2.c3 <> '14') and (sqrt(src3.c5) <> 13)
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT s1.key AS c1, s2.value AS c4
        FROM (SELECT key, value FROM src WHERE key <> '302') s1
        JOIN (SELECT key, value FROM src WHERE key <> '305') s2
          ON s1.key = s2.key AND s1.key < '400'
        JOIN (SELECT key, value FROM src WHERE key <> '306') s3
          ON s1.value = s3.value
        WHERE s1.key <> '311' AND (s1.value <> 'val_50' OR s1.key > '1')
          AND (s2.key <> '10' OR s1.key <> '10') AND s2.key <> '14'
          AND sqrt(CAST(s3.key AS DOUBLE)) <> 13
        ORDER BY c1, c4""")),

    // ---- clientpositive/ppd_outer_join1.q: WHERE over a LEFT OUTER join
    //      with NUMERIC comparisons on both sides — post-join b-side
    //      filters null out the preserved rows, collapsing to inner
    QueryDef(
      "q196_qf_ppd_outer_join1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM
              src a
             LEFT OUTER JOIN
              src b
             ON (a.key = b.key)
             SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
             WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25
             ORDER BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM src a LEFT OUTER JOIN src b ON a.key = b.key
        WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
          AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/ppd_outer_join2.q: the RIGHT OUTER twin with
    //      STRING comparisons (lexicographic bands select entirely
    //      different keys than the numeric form)
    QueryDef(
      "q197_qf_ppd_outer_join2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM
              src a
             RIGHT OUTER JOIN
              src b
             ON (a.key = b.key)
             SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
             WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25'
             ORDER BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM src a RIGHT OUTER JOIN src b ON a.key = b.key
        WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25'
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/ppd_outer_join3.q: FULL OUTER under both-side
    //      WHERE bands — filters on both sides collapse it to inner
    QueryDef(
      "q198_qf_ppd_outer_join3",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM
              src a
             FULL OUTER JOIN
              src b
             ON (a.key = b.key)
             SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
             WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25'
             ORDER BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM src a FULL OUTER JOIN src b ON a.key = b.key
        WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25'
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/ppd_outer_join4.q: LEFT OUTER then RIGHT OUTER
    //      chained, plus a sqrt() conjunct on the right-preserved side
    QueryDef(
      "q199_qf_ppd_outer_join4",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM
              src a
             LEFT OUTER JOIN
              src b
             ON (a.key = b.key)
             RIGHT OUTER JOIN
              src c
             ON (a.key = c.key)
             SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2, c.key AS k3
             WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25' AND sqrt(c.key) <> 13
             ORDER BY k1, v1, k2, v2, k3""")
      },
      Some(s"""$SrcCte
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2, c.key AS k3
        FROM src a LEFT OUTER JOIN src b ON a.key = b.key
        RIGHT OUTER JOIN src c ON a.key = c.key
        WHERE a.key > '10' AND a.key < '20' AND b.key > '15' AND b.key < '25'
          AND sqrt(CAST(c.key AS DOUBLE)) <> 13
        ORDER BY k1, v1, k2, v2, k3""")),

    // ---- clientpositive/ppd_clusterby.q: filters under CLUSTER BY, solo
    //      and through a join (numeric equality on the string key); the
    //      readback wraps a total ORDER BY over the clustered output.
    //      ADAPTATION: the .q's keys 10/20 are not quadratic residues, so
    //      under our fixture both branches were empty (vacuous oracle) —
    //      9/16 are present and keep both branches non-empty
    QueryDef(
      "q200_qf_ppd_clusterby",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT key, value FROM
               (SELECT * FROM src x where x.key = 9 CLUSTER BY x.key) t
             UNION ALL
             SELECT key2 AS key, v1 AS value FROM
               (SELECT x.key AS key2, x.value as v1, y.key AS yk
                FROM src x JOIN src y ON (x.key = y.key)
                where x.key = 16 CLUSTER BY v1) u
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM src WHERE CAST(key AS DOUBLE) = 9
        UNION ALL
        SELECT x.key, x.value FROM src x JOIN src y ON x.key = y.key
        WHERE CAST(x.key AS DOUBLE) = 16
        ORDER BY key, value""")),

    // ---- clientpositive/ppd_union.q: filters above and below a UNION ALL
    //      of two FROM-SELECT branches — the outer predicate pushes into
    //      BOTH branches
    QueryDef(
      "q201_qf_ppd_union",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM (
               FROM src select src.key, src.value WHERE src.key < '100'
                 UNION ALL
               FROM src SELECT src.* WHERE src.key > '150'
             ) unioned_query
             SELECT unioned_query.*
               WHERE key > '4' and value > 'val_4'
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src WHERE key < '100'
          UNION ALL
          SELECT key, value FROM src WHERE key > '150') t
        WHERE key > '4' AND value > 'val_4'
        ORDER BY key, value""")),

    // ---- clientpositive/ppd_transform.q: predicate above a TRANSFORM
    //      subquery — the filter CANNOT push through the script (the
    //      engine can't see through /bin/cat), so it evaluates over the
    //      script's string output with numeric coercion
    QueryDef(
      "q202_qf_ppd_transform",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM (
               FROM src
               SELECT TRANSFORM(src.key, src.value)
                      USING '/bin/cat' AS (tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             SELECT tmap.tkey, tmap.tvalue WHERE tmap.tkey < 100
             ORDER BY tkey, tvalue""")
      },
      Some(s"""$SrcCte
        SELECT key AS tkey, value AS tvalue FROM src
        WHERE CAST(key AS DOUBLE) < 100
        ORDER BY tkey, tvalue""")),

    // ================= round-11 battery growth: groupby family ==========

    // ---- clientpositive/groupby2.q: count(DISTINCT) beside a plain sum,
    //      and concat(string, sum-double) — Hive's double-to-string
    //      rendering ("67312.0") must survive the STRING dest column
    QueryDef(
      "q203_qf_groupby2",
      (s, dir) => {
        val d = s"dest_g2b_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
          "concat(substr(src.key,1,1),sum(substr(src.value,5))) GROUP BY substr(src.key,1,1)")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcCte
        SELECT substr(key,1,1) AS key,
               CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
               substr(key,1,1) ||
                 CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2
        FROM src GROUP BY substr(key,1,1) ORDER BY key""")),

    // ---- clientpositive/groupby4.q: grouping on a pure substr projection
    //      (no aggregates beside the key — the distinct-first-char set)
    QueryDef(
      "q204_qf_groupby4",
      (s, dir) => {
        val d = s"dest_g4_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT substr(src.key,1,1) GROUP BY substr(src.key,1,1)")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1")
      },
      Some(s"""$SrcCte
        SELECT DISTINCT substr(key,1,1) AS c1 FROM src ORDER BY c1""")),

    // ---- clientpositive/groupby5.q: groupby1's aggregation written
    //      INSERT-first (INSERT OVERWRITE ... SELECT ... FROM ... GROUP BY)
    QueryDef(
      "q205_qf_groupby5",
      (s, dir) => {
        val d = s"dest_g5_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT src.key, sum(substr(src.value,5))
              FROM src
              GROUP BY src.key""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key,
               CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS value
        FROM src GROUP BY key ORDER BY key""")),

    // ---- clientpositive/groupby9.q: ONE source scan feeding TWO grouped
    //      dests with different keys (multi-insert x group-by), then the
    //      same pair with dest2's GROUP BY columns reordered
    QueryDef(
      "q206_qf_groupby9",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_g9a_$sfx", s"dest_g9b_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, val1 STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM SRC
              INSERT OVERWRITE TABLE $d1 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key
              INSERT OVERWRITE TABLE $d2 SELECT SRC.key, SRC.value, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key, SRC.value""")
        // the .q's second pair: identical aggregates, GROUP BY reordered
        HiveQl.sql(s,
          s"""FROM SRC
              INSERT OVERWRITE TABLE $d1 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key
              INSERT OVERWRITE TABLE $d2 SELECT SRC.key, SRC.value, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.value, SRC.key""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value AS v1, '' AS v2 FROM $d1
              UNION ALL
              SELECT 'd2' AS tag, key, val1 AS v1, val2 AS v2 FROM $d2
              ORDER BY tag, key, v1, v2""")
      },
      Some(s"""$SrcCte
        SELECT 'd1' AS tag, CAST(key AS INT) AS key,
               CAST(count(DISTINCT substr(value,5)) AS VARCHAR) AS v1, '' AS v2
        FROM src GROUP BY key
        UNION ALL
        SELECT 'd2' AS tag, CAST(key AS INT) AS key, value AS v1,
               CAST(count(DISTINCT substr(value,5)) AS VARCHAR) AS v2
        FROM src GROUP BY key, value
        ORDER BY tag, key, v1, v2""")),

    // ---- clientpositive/groupby2_map_multi_distinct.q: TWO distinct
    //      aggregates over the same column expression beside plain ones —
    //      count(DISTINCT) + sum(DISTINCT) + count in one GROUP BY
    QueryDef(
      "q207_qf_groupby2_multi_distinct",
      (s, dir) => {
        val d = s"dest_g2md_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING, c3 INT, c4 INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
          "concat(substr(src.key,1,1),sum(substr(src.value,5))), " +
          "sum(DISTINCT substr(src.value, 5)), count(src.value) GROUP BY substr(src.key,1,1)")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcCte
        SELECT substr(key,1,1) AS key,
               CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
               substr(key,1,1) ||
                 CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2,
               CAST(sum(DISTINCT CAST(substr(value,5) AS DOUBLE)) AS INT) AS c3,
               CAST(count(value) AS INT) AS c4
        FROM src GROUP BY substr(key,1,1) ORDER BY key""")),

    // ---- clientpositive/groupby_ppr_multi_distinct.q: the multi-distinct
    //      aggregate over srcpart with a partition-pruning WHERE — the
    //      ds filter must prune before the distinct shuffle
    QueryDef(
      "q208_qf_groupby_ppr_multi_distinct",
      (s, dir) => {
        val d = s"dest_gppr_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING, c3 INT, c4 INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src
              INSERT OVERWRITE TABLE $d
              SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), concat(substr(src.key,1,1),sum(substr(src.value,5))), sum(DISTINCT substr(src.value, 5)), count(DISTINCT src.value)
              WHERE src.ds = '2008-04-08'
              GROUP BY substr(src.key,1,1)""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcPartCte
        SELECT substr(key,1,1) AS key,
               CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
               substr(key,1,1) ||
                 CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2,
               CAST(sum(DISTINCT CAST(substr(value,5) AS DOUBLE)) AS INT) AS c3,
               CAST(count(DISTINCT value) AS INT) AS c4
        FROM srcpart WHERE ds = '2008-04-08'
        GROUP BY substr(key,1,1) ORDER BY key""")),

    // ---- clientpositive/groupby_neg_float.q: grouping on a NEGATIVE
    //      float constant, as DOUBLE and as bare string — the double's
    //      string rendering must keep the sign and decimals
    QueryDef(
      "q209_qf_groupby_neg_float",
      (s, dir) => {
        fixtures(s, dir)
        val a = HiveQl.sql(s,
          """FROM src
             SELECT cast('-30.33' as DOUBLE) AS c
             GROUP BY cast('-30.33' as DOUBLE)
             LIMIT 1""").selectExpr("'dbl' AS tag", "CAST(c AS STRING) AS c")
        val b = HiveQl.sql(s,
          """FROM src
             SELECT '-30.33' AS c
             GROUP BY '-30.33'
             LIMIT 1""").selectExpr("'str' AS tag", "c")
        a.union(b).orderBy("tag")
      },
      Some("""SELECT 'dbl' AS tag, '-30.33' AS c
              UNION ALL SELECT 'str', '-30.33' ORDER BY tag""")),

    // ================= round-11 battery growth: input family ============

    // ---- clientpositive/input11.q: the canonical filtered INSERT (the
    //      serde/typed-dest baseline the rest of the family varies)
    QueryDef(
      "q210_qf_input11",
      (s, dir) => {
        val d = s"dest_i11_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT src.key, src.value WHERE src.key < 100")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src
        WHERE CAST(key AS DOUBLE) < 100 ORDER BY key, value""")),

    // ---- clientpositive/input13.q: FOUR-branch multi-insert — two plain
    //      dests, a STATIC-PARTITION dest, and an INSERT OVERWRITE
    //      DIRECTORY sink, all from one scan
    QueryDef(
      "q211_qf_input13",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2, d3) = (s"dest_i13a_$sfx", s"dest_i13b_$sfx", s"dest_i13c_$sfx")
        fresh(s, d1, d2, d3)
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_qf_dest4_$sfx")
        org.apache.commons.io.FileUtils.deleteQuietly(out)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d3(key INT) PARTITIONED BY(ds STRING, hr STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src
              INSERT OVERWRITE TABLE $d1 SELECT src.* WHERE src.key < 100
              INSERT OVERWRITE TABLE $d2 SELECT src.key, src.value WHERE src.key >= 100 and src.key < 200
              INSERT OVERWRITE TABLE $d3 PARTITION(ds='2008-04-08', hr='12') SELECT src.key WHERE src.key >= 200 and src.key < 300
              INSERT OVERWRITE DIRECTORY '${out.getAbsolutePath}' SELECT src.value WHERE src.key >= 300""")
        val d4 = s.read.format("graft.sources.HiveTextSource")
          .schema("value STRING").load(out.getAbsolutePath)
        d4.createOrReplaceTempView(s"qf_i13_d4_$sfx")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, CAST(key AS STRING) AS c1, value AS c2 FROM $d1
              UNION ALL SELECT 'd2', CAST(key AS STRING), value FROM $d2
              UNION ALL SELECT 'd3', CAST(key AS STRING), concat(ds, '/', hr) FROM $d3
              UNION ALL SELECT 'd4', value, '' FROM qf_i13_d4_$sfx
              ORDER BY tag, c1, c2""")
      },
      Some(s"""$SrcCte
        SELECT tag, c1, c2 FROM (
          SELECT 'd1' AS tag, CAST(CAST(key AS INT) AS VARCHAR) AS c1, value AS c2
          FROM src WHERE CAST(key AS DOUBLE) < 100
          UNION ALL
          SELECT 'd2', CAST(CAST(key AS INT) AS VARCHAR), value FROM src
          WHERE CAST(key AS DOUBLE) >= 100 AND CAST(key AS DOUBLE) < 200
          UNION ALL
          SELECT 'd3', CAST(CAST(key AS INT) AS VARCHAR), '2008-04-08/12' FROM src
          WHERE CAST(key AS DOUBLE) >= 200 AND CAST(key AS DOUBLE) < 300
          UNION ALL
          SELECT 'd4', value, '' FROM src WHERE CAST(key AS DOUBLE) >= 300) t
        ORDER BY tag, c1, c2""")),

    // ---- clientpositive/input17.q: TRANSFORM over the reference's OWN
    //      src_thrift complex types — arithmetic over array elements and a
    //      STRUCT through the script pipe, which serializes as the same
    //      JSON Hive's DelimitedJSONSerDe emits. Oracle = the reference's
    //      golden rows (input17.q.out), with ONE documented divergence:
    //      for the all-NULL record Hive pipes the JSON text "null" while
    //      Spark's transform writes its \N null marker, which reads back
    //      as SQL NULL — asserted as NULL here.
    QueryDef(
      "q212_qf_input17",
      (s, dir) => {
        val d = s"dest_i17_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM src_thrift
               SELECT TRANSFORM(src_thrift.aint + src_thrift.lint[0], src_thrift.lintstring[0])
                      USING '/bin/cat' AS (tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             INSERT OVERWRITE TABLE $d SELECT tmap.tkey, tmap.tvalue""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some("""SELECT key, value FROM (VALUES
          (NULL, NULL),
          (-1461153966, '{"myint":49,"mystring":"343","underscore_int":7}'),
          (-1952710705, '{"myint":25,"mystring":"125","underscore_int":5}'),
          (-734328905, '{"myint":16,"mystring":"64","underscore_int":4}'),
          (-751827636, '{"myint":4,"mystring":"8","underscore_int":2}'),
          (1244525196, '{"myint":36,"mystring":"216","underscore_int":6}'),
          (1638581586, '{"myint":64,"mystring":"512","underscore_int":8}'),
          (1712634731, '{"myint":0,"mystring":"0","underscore_int":0}'),
          (336964422, '{"myint":81,"mystring":"729","underscore_int":9}'),
          (465985201, '{"myint":1,"mystring":"1","underscore_int":1}'),
          (477111225, '{"myint":9,"mystring":"27","underscore_int":3}'))
          v(key, value)
        ORDER BY key NULLS FIRST, value NULLS FIRST""")),

    // ---- clientpositive/input2_limit.q: LIMIT without ORDER BY — the
    //      deterministic facts are the row count and the predicate holding
    //      on every returned row (input1_limit's oracle pattern)
    QueryDef(
      "q213_qf_input2_limit",
      (s, dir) => {
        fixtures(s, dir)
        val got = HiveQl.sql(s,
          "SELECT x.* FROM SRC x WHERE x.key < 300 LIMIT 5")
        got.createOrReplaceTempView("qf_i2l")
        HiveQl.sql(s,
          """SELECT (SELECT count(*) FROM qf_i2l) AS n,
                    (SELECT count(*) FROM qf_i2l WHERE key >= 300) AS bad""")
      },
      Some("""SELECT CAST(5 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad""")),

    // ---- clientpositive/input_part2.q: TWO partition-pruned branches of
    //      one srcpart scan into schema-widened dests (partition columns
    //      re-materialized as data columns)
    QueryDef(
      "q214_qf_input_part2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_ip2a_$sfx", s"dest_ip2b_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING, hr STRING, ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING, hr STRING, ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart
              INSERT OVERWRITE TABLE $d1 SELECT srcpart.key, srcpart.value, srcpart.hr, srcpart.ds WHERE srcpart.key < 100 and srcpart.ds = '2008-04-08' and srcpart.hr = '12'
              INSERT OVERWRITE TABLE $d2 SELECT srcpart.key, srcpart.value, srcpart.hr, srcpart.ds WHERE srcpart.key < 100 and srcpart.ds = '2008-04-09' and srcpart.hr = '12'""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value, hr, ds FROM $d1
              UNION ALL SELECT 'd2', key, value, hr, ds FROM $d2
              ORDER BY tag, key, value, ds, hr""")
      },
      Some(s"""$SrcPartCte
        SELECT 'd1' AS tag, CAST(key AS INT) AS key, value, hr, ds FROM srcpart
        WHERE CAST(key AS DOUBLE) < 100 AND ds = '2008-04-08' AND hr = '12'
        UNION ALL
        SELECT 'd2', CAST(key AS INT), value, hr, ds FROM srcpart
        WHERE CAST(key AS DOUBLE) < 100 AND ds = '2008-04-09' AND hr = '12'
        ORDER BY tag, key, value, ds, hr""")),

    // ---- clientpositive/input26.q: ORDER BY ... LIMIT inside one UNION
    //      ALL branch, plain LIMIT over an EMPTY partition in the other
    //      (hr='14' does not exist) — deterministic because ties on the
    //      ordered prefix share identical full rows. ADAPTATION: Spark
    //      requires parens around a union branch carrying ORDER BY/LIMIT
    //      (Hive's grammar allows the bare form) — semantics unchanged
    QueryDef(
      "q215_qf_input26",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select key, value, ds, hr from (
               (select * from srcpart a where a.ds = '2008-04-08' and a.hr = '11' order by a.key limit 5)
                 union all
               (select * from srcpart b where b.ds = '2008-04-08' and b.hr = '14' limit 5)
             )subq
             ORDER BY key, value, ds, hr""")
      },
      Some(s"""$SrcPartCte
        SELECT key, value, ds, hr FROM (
          SELECT * FROM srcpart WHERE ds = '2008-04-08' AND hr = '11'
          ORDER BY key LIMIT 5) t
        ORDER BY key, value, ds, hr""")),

    // ---- clientpositive/input34.q: TRANSFORM with EXPLICIT ROW FORMAT
    //      SERDE LazySimpleSerDe on both sides — the spelled-out default
    //      codec must behave exactly like the bare form (dialect strips it;
    //      Spark rejects TRANSFORM-with-SERDE outside hive mode)
    QueryDef(
      "q216_qf_input34",
      (s, dir) => {
        val d = s"dest_i34_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM src
               SELECT TRANSFORM(src.key, src.value) ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
               USING '/bin/cat'
               AS (tkey, tvalue) ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
             ) tmap
             INSERT OVERWRITE TABLE $d SELECT tkey, tvalue""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src ORDER BY key, value""")),

    // ---- clientpositive/input41.q: strict mode + a UNION of two COUNTs
    //      (one branch over a nonexistent partition -> count 0) through a
    //      dest, read back ordered
    QueryDef(
      "q217_qf_input41",
      (s, dir) => {
        val d = s"dest_sp41_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(cnt int)")
        HiveQl.sql(s,
          s"""insert overwrite table $d
              select * from
                (select count(1) as cnt from src
                  union all
                 select count(1) as cnt from srcpart where ds = '2009-08-09'
                )x""")
        HiveQl.sql(s, s"select * from $d x order by x.cnt limit 2")
      },
      Some(s"""$SrcCte
        SELECT CAST(cnt AS INT) AS cnt FROM (
          SELECT count(1) AS cnt FROM src
          UNION ALL
          SELECT 0 AS cnt) t
        ORDER BY cnt LIMIT 2""")),

    // ================= round-11 battery growth: udf family ==============

    // ---- clientpositive/udf_round.q: the full rounding sweep — NULL
    //      scale, Infinity and NaN operands (1.0/0.0 IS Infinity under
    //      Hive's double literals — the divergence that drove the
    //      FloatLiteral dialect rewrite; round passes non-finite doubles
    //      through per UDFRound — the `round` override), negative scales
    //      past the magnitude, and the 15-decimal pi ladder. a4 pins the
    //      engine's ONE documented `/` divergence (Sessions.scala, q88:
    //      non-ANSI Spark nulls divide-by-zero where Hive's raw Java `/`
    //      gives Infinity); a6 asserts round-of-Infinity itself is
    //      Hive-faithful. Oracle notes:
    //      integer-input negative scales render as INT here where Hive
    //      renders DOUBLE (same values); the r1/r2 expectations are the
    //      reference's OWN golden doubles — DuckDB's round lands one ulp
    //      away at that representability edge, Spark matches Hive
    QueryDef(
      "q218_qf_udf_round",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(null) AS a1, round(null, 0) AS a2, round(125, null) AS a3,
                    round(1.0/0.0, 0) AS a4, round(power(-1.0,0.5), 0) AS a5,
                    round(cast('Infinity' as double), 0) AS a6,
                    round(55555) AS b1, round(55555, -1) AS b2, round(55555, -2) AS b3,
                    round(55555, -3) AS b4, round(55555, -4) AS b5, round(55555, -5) AS b6,
                    round(125.315) AS c1, round(125.315, 1) AS c2, round(125.315, 2) AS c3,
                    round(125.315, 3) AS c4, round(125.315, -1) AS c5, round(125.315, -2) AS c6,
                    round(-125.315, 2) AS c7, round(-125.315, -1) AS c8,
                    round(3.141592653589793, 3) AS p1, round(3.141592653589793, 7) AS p2,
                    round(3.141592653589793, 13) AS p3, round(3.141592653589793, -1) AS p4,
                    round(1809242.3151111344, 9) AS r1, round(-1809242.3151111344, 9) AS r2
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(NULL AS DOUBLE) AS a1, CAST(NULL AS DOUBLE) AS a2,
                     CAST(NULL AS INT) AS a3,
                     CAST(NULL AS DOUBLE) AS a4, CAST('nan' AS DOUBLE) AS a5,
                     CAST('infinity' AS DOUBLE) AS a6,
                     55555 AS b1,
                     CAST(round(55555, -1) AS INT) AS b2,
                     CAST(round(55555, -2) AS INT) AS b3,
                     CAST(round(55555, -3) AS INT) AS b4,
                     CAST(round(55555, -4) AS INT) AS b5,
                     CAST(round(55555, -5) AS INT) AS b6,
                     CAST(round(CAST(125.315 AS DOUBLE)) AS BIGINT) AS c1,
                     round(CAST(125.315 AS DOUBLE), 1) AS c2,
                     round(CAST(125.315 AS DOUBLE), 2) AS c3,
                     round(CAST(125.315 AS DOUBLE), 3) AS c4,
                     round(CAST(125.315 AS DOUBLE), -1) AS c5,
                     round(CAST(125.315 AS DOUBLE), -2) AS c6,
                     round(CAST(-125.315 AS DOUBLE), 2) AS c7,
                     round(CAST(-125.315 AS DOUBLE), -1) AS c8,
                     round(CAST(3.141592653589793 AS DOUBLE), 3) AS p1,
                     round(CAST(3.141592653589793 AS DOUBLE), 7) AS p2,
                     round(CAST(3.141592653589793 AS DOUBLE), 13) AS p3,
                     round(CAST(3.141592653589793 AS DOUBLE), -1) AS p4,
                     CAST('1809242.315111134' AS DOUBLE) AS r1,
                     CAST('-1809242.315111134' AS DOUBLE) AS r2""")),

    // ---- clientpositive/udf_reverse.q: reverse through a dest, then the
    //      NON-ASCII case — the .q's `_UTF-8 0x...` charset literal
    //      (dialect-rewritten to decode(unhex)) over its kv4.txt fixture,
    //      reversing a 2-codepoint CJK string CODEPOINT-wise, not byte-wise
    QueryDef(
      "q219_qf_udf_reverse",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest_rev_$sfx", s"dest_rev4_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(len STRING)")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d1 SELECT reverse(src1.value)")
        HiveQl.sql(s, s"CREATE TABLE $d2(name STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/kv4.txt' INTO TABLE $d2")
        HiveQl.sql(s,
          s"""SELECT v, n FROM (
                SELECT len AS v, CAST(-1 AS BIGINT) AS n FROM $d1
                UNION ALL
                SELECT 'utf8-count', count(1) FROM $d2 WHERE reverse($d2.name) = _UTF-8 0xE993AEE982B5
              ) u ORDER BY v, n""")
      },
      Some(s"""$Src1Cte
        SELECT v, n FROM (
          SELECT reverse(value) AS v, CAST(-1 AS BIGINT) AS n FROM src1
          UNION ALL
          SELECT 'utf8-count', 1) u
        ORDER BY v, n""")),

    // ---- clientpositive/udf_concat_insert1.q: a CONSTANT select item
    //      under GROUP BY (legal in Hive), concat of a single argument,
    //      string '1234' through the INT dest
    QueryDef(
      "q220_qf_udf_concat_insert1",
      (s, dir) => {
        val d = s"dest_ci1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT '1234', concat(src.key) WHERE src.key < 100 group by src.key")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT 1234 AS key, key AS value FROM src
        WHERE CAST(key AS DOUBLE) < 100 GROUP BY key ORDER BY key, value""")),

    // ---- clientpositive/udf_isnull_isnotnull.q: IS NULL family over
    //      literals and over src_thrift's COMPLEX columns (array/map
    //      null-ness, the .q's own NOT (x IS NULL) spelling)
    QueryDef(
      "q221_qf_udf_isnull_isnotnull",
      (s, dir) => {
        fixtures(s, dir)
        val a = HiveQl.sql(s,
          """SELECT NULL IS NULL AS b1,
                    1 IS NOT NULL AS b2,
                    'my string' IS NOT NULL AS b3
             FROM src
             WHERE true IS NOT NULL LIMIT 1""")
        val b = HiveQl.sql(s,
          """FROM src_thrift
             SELECT src_thrift.lint IS NOT NULL AS b1,
                    src_thrift.lintstring IS NOT NULL AS b2,
                    src_thrift.mstringstring IS NOT NULL AS b3
             WHERE  src_thrift.lint IS NOT NULL
                    AND NOT (src_thrift.mstringstring IS NULL) LIMIT 1""")
        a.selectExpr("'lit' AS tag", "b1", "b2", "b3")
          .union(b.selectExpr("'thrift' AS tag", "b1", "b2", "b3"))
          .orderBy("tag")
      },
      Some("""SELECT tag, b1, b2, b3 FROM (VALUES
          ('lit', TRUE, TRUE, TRUE), ('thrift', TRUE, TRUE, TRUE))
          v(tag, b1, b2, b3) ORDER BY tag""")),

    // ---- clientpositive/udf_instr.q: instr over every coercible operand
    //      type — ints, booleans ('true' contains no '1'), numeric
    //      needles, TINYINT/SMALLINT/BIGINT casts, floats, NULLs
    QueryDef(
      "q222_qf_udf_instr",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT instr('abcd', 'abc') AS i1,
                    instr('abcabc', 'ccc') AS i2,
                    instr(123, '23') AS i3,
                    instr(123, 23) AS i4,
                    instr(TRUE, 1) AS i5,
                    instr(FALSE, 1) AS i6,
                    instr('12345', CAST('2' AS TINYINT)) AS i7,
                    instr(CAST('12345' AS SMALLINT), '34') AS i8,
                    instr(CAST('123456789012' AS BIGINT), '456') AS i9,
                    instr(CAST(1.25 AS FLOAT), '.25') AS i10,
                    instr(CAST(16.0 AS DOUBLE), '.0') AS i11,
                    instr(null, 'abc') AS i12,
                    instr('abcd', null) AS i13
             FROM src LIMIT 1""")
      },
      Some("""SELECT 1 AS i1, 0 AS i2, 2 AS i3, 2 AS i4, 0 AS i5, 0 AS i6,
                     2 AS i7, 3 AS i8, 4 AS i9, 2 AS i10, 3 AS i11,
                     CAST(NULL AS INT) AS i12, CAST(NULL AS INT) AS i13""")),

    // ---- Compressed TEXTFILE table under the reference's conf names
    //      (HiveIgnoreKeyTextOutputFormat.java: mapred.output.compress +
    //      mapred.output.compression.codec): the INSERT lands .txt.deflate
    //      files (in-query require), reads decompress transparently
    QueryDef(
      "q223_compressed_text",
      (s, dir) => {
        val d = s"dest_comp_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, "SET mapred.output.compress=true")
        try {
          HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
            "SELECT src.key, src.value WHERE src.key < 50")
        } finally s.conf.unset("mapred.output.compress")
        val loc = s.sql(s"DESCRIBE FORMATTED $d").collect()
          .find(_.getString(0).trim == "Location").get.getString(1).trim
        val files = new java.io.File(new java.net.URI(loc).getPath).listFiles
          .filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith("."))
        require(files.nonEmpty && files.forall(_.getName.endsWith(".txt.deflate")),
          s"compressed insert must land DefaultCodec text files, got " +
            files.map(_.getName).mkString(", "))
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value FROM src
        WHERE CAST(key AS DOUBLE) < 50 ORDER BY key, value""")),

    // ================= round-11 battery growth: join tranche 2 ==========

    // ---- clientpositive/join_1to1.q: FULL OUTER JOIN with ON-clause
    //      filters (value = 66 on BOTH sides) over NULL-keyed rows, under
    //      BOTH hive.outerjoin.supports.filters settings — the legs DIFFER
    //      (join_1to1.q.out: 21 rows under false vs 47 under true for the
    //      value=66 conds; the r11 "results identical" claim was wrong).
    //      Leg 1 (jt 1-5) = supports.filters=true: ON filters suppress the
    //      MATCH, never the row (ANSI; the reference's 47-row true-leg
    //      golden double-emits null-extended rows — a known Hive 0.8 join-
    //      buffer artifact we deliberately do NOT replicate, so leg 1 is
    //      oracled per ANSI). Leg 2 (jt 6-10) = false: each single-side ON
    //      conjunct PRE-FILTERS its input (plans.HiveOuterJoinFilters);
    //      verified row-for-row against the .q.out false-leg goldens, which
    //      the prefilter SQL transcription below reproduces exactly. The
    //      false leg runs in an ISOLATED newSession (the r11 shared-session
    //      SET here leaked into q178) and is pinned via localCheckpoint
    //      while that conf holds.
    QueryDef(
      "q224_qf_join_1to1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"join_1to1_1_$sfx", s"join_1to1_2_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key1 int, key2 int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in5.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"CREATE TABLE $t2(key1 int, key2 int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in6.txt' INTO TABLE $t2")
        def legSql(off: Int) = Join1to1Conds.zipWithIndex.map {
          case ((jk, cond), i) =>
            s"""SELECT ${i + 1 + off} AS jt, a.key1 AS ak1, a.key2 AS ak2,
                       a.value AS av, b.key1 AS bk1, b.key2 AS bk2,
                       b.value AS bv
                FROM $t1 a $jk $t2 b ON $cond"""
        }.mkString("\nUNION ALL\n")
        val leg1 = HiveQl.sql(s, legSql(0)).localCheckpoint(true)
        val s2 = s.newSession()
        Sessions.ensureRegistered(s2)
        s2.conf.set("hive.outerjoin.supports.filters", "false")
        // the .q also sweeps hive.join.emit.interval (5/2/1) — a reduce-
        // side buffering knob with no Spark analogue and, per the goldens,
        // no effect on results within a leg
        val leg2 = HiveQl.sql(s2, legSql(5)).localCheckpoint(true)
        leg1.union(leg2).orderBy("jt", "ak1", "ak2", "av", "bk1", "bk2", "bv")
      },
      Some {
        def sel(jk: String, cond: String, jt: Int, at: String, bt: String) =
          s"""SELECT $jt AS jt, a.key1 AS ak1, a.key2 AS ak2,
                     a.value AS av, b.key1 AS bk1, b.key2 AS bk2,
                     b.value AS bv
              FROM $at a $jk $bt b ON $cond"""
        val leg1 = Join1to1Conds.zipWithIndex.map { case ((jk, cond), i) =>
          sel(jk, cond, i + 1, "a1", "b1") }
        // false leg: strip the single-side value=66 conjuncts from the ON
        // clause and apply them as input prefilters (af/bf) instead
        val leg2 = Join1to1Conds.zipWithIndex.map { case ((jk, cond), i) =>
          val keyCond = cond.split(" AND ")
            .filter(c => c.contains("a.") && c.contains("b."))
            .mkString(" AND ")
          val filtered = keyCond != cond
          sel(jk, keyCond, i + 6,
            if (filtered) "af" else "a1", if (filtered) "bf" else "b1") }
        s"""WITH a1(key1, key2, value) AS (VALUES $In5Values),
                b1(key1, key2, value) AS (VALUES $In6Values),
                af AS (SELECT * FROM a1 WHERE value = 66),
                bf AS (SELECT * FROM b1 WHERE value = 66)
           SELECT jt, ak1, ak2, av, bk1, bk2, bv FROM (""" +
          (leg1 ++ leg2).mkString("\nUNION ALL\n") +
          """) u ORDER BY jt, ak1 NULLS FIRST, ak2 NULLS FIRST,
               av NULLS FIRST, bk1 NULLS FIRST, bk2 NULLS FIRST,
               bv NULLS FIRST"""
      }),

    // ---- clientpositive/join_nulls.q: the full NULL-join battery — 34
    //      two-table selects (cartesian, every join type × key/value ON
    //      combos, MAPJOIN hints), the two chained outer joins, and the
    //      bucketed-sorted SMB section under hive.optimize.bucketmapJOIN.
    //      NULL keys must never equi-match, including under broadcast
    QueryDef(
      "q225_qf_join_nulls",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"myinput1_$sfx"
        val (s1, s2) = (s"smb_input1_$sfx", s"smb_input2_$sfx")
        fresh(s, t, s1, s2)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $s1(key int, value int) CLUSTERED BY (key) SORTED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $s2(key int, value int) CLUSTERED BY (value) SORTED BY (value) INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("in1.txt", "in2.txt"); tt <- Seq(s1, s2))
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/$f' INTO TABLE $tt")
        HiveQl.sql(s, "SET hive.optimize.bucketmapJOIN=true")
        HiveQl.sql(s, "SET hive.optimize.bucketmapJOIN.sortedmerge=true")
        val two = JoinNullsCases.zipWithIndex.map { case (c, i) =>
          val hint = c.hint.map(h => s"/*+ MAPJOIN($h) */ ").getOrElse("")
          val on = c.cond.map(" ON " + _).getOrElse("")
          s"SELECT $hint${i + 1} AS jt, a.key AS ak, a.value AS av, " +
            s"b.key AS bk, b.value AS bv, CAST(NULL AS INT) AS ck, " +
            s"CAST(NULL AS INT) AS cv FROM $t a ${c.jt} $t b$on"
        }
        val chains = Seq(
          s"SELECT 41 AS jt, a.key AS ak, a.value AS av, b.key AS bk, " +
            s"b.value AS bv, c.key AS ck, c.value AS cv FROM $t a " +
            s"LEFT OUTER JOIN $t b ON (a.value = b.value) " +
            s"RIGHT OUTER JOIN $t c ON (b.value = c.value)",
          s"SELECT 42 AS jt, a.key AS ak, a.value AS av, b.key AS bk, " +
            s"b.value AS bv, c.key AS ck, c.value AS cv FROM $t a " +
            s"RIGHT OUTER JOIN $t b ON (a.value = b.value) " +
            s"LEFT OUTER JOIN $t c ON (b.value = c.value)")
        val smb = SmbNullsCases.zipWithIndex.map { case (c, i) =>
          val (ta, tb) = (if (c.l == 1) s1 else s2, if (c.r == 1) s1 else s2)
          s"SELECT /*+ MAPJOIN(${c.hint}) */ ${51 + i} AS jt, a.key AS ak, " +
            s"a.value AS av, b.key AS bk, b.value AS bv, " +
            s"CAST(NULL AS INT) AS ck, CAST(NULL AS INT) AS cv " +
            s"FROM $ta a ${c.jt} $tb b ON ${c.cond}"
        }
        HiveQl.sql(s, (two ++ chains ++ smb).mkString("\nUNION ALL\n") +
          "\nORDER BY jt, ak, av, bk, bv, ck, cv")
      },
      Some {
        val two = JoinNullsCases.zipWithIndex.map { case (c, i) =>
          val join = (c.jt, c.cond) match {
            case ("JOIN", None) => "CROSS JOIN m b"
            case (jt, None) => s"$jt m b ON TRUE"
            case (jt, Some(cond)) => s"$jt m b ON $cond"
          }
          s"SELECT ${i + 1} AS jt, a.key AS ak, a.value AS av, " +
            s"b.key AS bk, b.value AS bv, CAST(NULL AS INT) AS ck, " +
            s"CAST(NULL AS INT) AS cv FROM m a $join"
        }
        val chains = Seq(
          "SELECT 41 AS jt, a.key AS ak, a.value AS av, b.key AS bk, " +
            "b.value AS bv, c.key AS ck, c.value AS cv FROM m a " +
            "LEFT OUTER JOIN m b ON (a.value = b.value) " +
            "RIGHT OUTER JOIN m c ON (b.value = c.value)",
          "SELECT 42 AS jt, a.key AS ak, a.value AS av, b.key AS bk, " +
            "b.value AS bv, c.key AS ck, c.value AS cv FROM m a " +
            "RIGHT OUTER JOIN m b ON (a.value = b.value) " +
            "LEFT OUTER JOIN m c ON (b.value = c.value)")
        val smb = SmbNullsCases.zipWithIndex.map { case (c, i) =>
          val (ta, tb) = (if (c.l == 1) "sm" else "sm2",
            if (c.r == 1) "sm" else "sm2")
          s"SELECT ${51 + i} AS jt, a.key AS ak, a.value AS av, " +
            s"b.key AS bk, b.value AS bv, CAST(NULL AS INT) AS ck, " +
            s"CAST(NULL AS INT) AS cv FROM $ta a ${c.jt} $tb b ON ${c.cond}"
        }
        """WITH m(key, value) AS (VALUES
             (CAST(NULL AS INT), 35), (48, CAST(NULL AS INT)), (100, 100)),
           sm(key, value) AS (VALUES
             (CAST(NULL AS INT), 35), (48, CAST(NULL AS INT)), (100, 100),
             (CAST(NULL AS INT), 135), (148, CAST(NULL AS INT)), (200, 200)),
           sm2(key, value) AS (SELECT * FROM sm)
           SELECT jt, ak, av, bk, bv, ck, cv FROM (""" +
          (two ++ chains ++ smb).mkString("\nUNION ALL\n") +
          """) u ORDER BY jt, ak NULLS FIRST, av NULLS FIRST,
               bk NULLS FIRST, bv NULLS FIRST, ck NULLS FIRST,
               cv NULLS FIRST"""
      }),

    // ---- clientpositive/join_hive_626.q: three comma-delimited tables
    //      (ROW FORMAT DELIMITED FIELDS TERMINATED BY ',') loaded from the
    //      reference's own files, three-way join chain foo->bar->count
    QueryDef(
      "q226_qf_join_hive_626",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (tf, tb, tc) = (s"hive_foo_$sfx", s"hive_bar_$sfx", s"hive_count_$sfx")
        fresh(s, tf, tb, tc)
        HiveQl.sql(s, s"""CREATE TABLE $tf (foo_id int, foo_name string, foo_a string, foo_b string,
          foo_c string, foo_d string) ROW FORMAT DELIMITED FIELDS TERMINATED BY ','
          STORED AS TEXTFILE""")
        HiveQl.sql(s, s"""CREATE TABLE $tb (bar_id int, bar_0 int, foo_id int, bar_1 int, bar_name
          string, bar_a string, bar_b string, bar_c string, bar_d string) ROW FORMAT DELIMITED
          FIELDS TERMINATED BY ',' STORED AS TEXTFILE""")
        HiveQl.sql(s, s"""CREATE TABLE $tc (bar_id int, n int) ROW FORMAT DELIMITED FIELDS
          TERMINATED BY ',' STORED AS TEXTFILE""")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/hive_626_foo.txt' OVERWRITE INTO TABLE $tf")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/hive_626_bar.txt' OVERWRITE INTO TABLE $tb")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/hive_626_count.txt' OVERWRITE INTO TABLE $tc")
        HiveQl.sql(s,
          s"""select $tf.foo_name, $tb.bar_name, n from $tf join $tb on $tf.foo_id =
              $tb.foo_id join $tc on $tc.bar_id = $tb.bar_id""")
      },
      Some("SELECT 'foo1' AS foo_name, 'bar10' AS bar_name, CAST(2 AS INT) AS n")),

    // ---- clientpositive/join15.q: src self-join, SELECT * (columns
    //      dealiased — the driver's compare needs unique names)
    QueryDef(
      "q227_qf_join15",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2
             FROM src src1 JOIN src src2 ON (src1.key = src2.key)
             SORT BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
               src2.value AS v2
        FROM src src1 JOIN src src2 ON (src1.key = src2.key)
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/join16.q: subquery join with numeric predicates
    //      over STRING columns — 'val_x' < 200 coerces to DOUBLE and NULLs
    //      out, so the result is EMPTY; the count pins that coercion
    QueryDef(
      "q228_qf_join16",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(*) AS n FROM (
               SELECT subq.key, tab.value
               FROM (select a.key, a.value from src a where a.key > 10) subq
               JOIN src tab
               ON (subq.key = tab.key and subq.key > 20 and subq.value = tab.value)
               WHERE tab.value < 200) t""")
      },
      Some("""SELECT count(*) AS n FROM (
          SELECT subq.key, tab.value
          FROM (SELECT a.key, a.value FROM src a
                WHERE TRY_CAST(a.key AS DOUBLE) > 10) subq
          JOIN src tab
          ON subq.key = tab.key AND TRY_CAST(subq.key AS DOUBLE) > 20
             AND subq.value = tab.value
          WHERE TRY_CAST(tab.value AS DOUBLE) < 200) t""".replaceFirst(
        "SELECT count", SrcCte + "\nSELECT count"))),

    // ---- clientpositive/join21.q: LEFT OUTER with self-contradictory ON
    //      filters (key < 10 AND key > 10 on equal keys) chained into a
    //      RIGHT OUTER — the left tree contributes nothing but NULLs, the
    //      right join then keeps only src3 rows
    QueryDef(
      "q229_qf_join21",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2, src3.key AS k3, src3.value AS v3
             FROM src src1
             LEFT OUTER JOIN src src2
               ON (src1.key = src2.key AND src1.key < 10 AND src2.key > 10)
             RIGHT OUTER JOIN src src3
               ON (src2.key = src3.key AND src3.key < 10)
             SORT BY k1, v1, k2, v2, k3, v3""")
      },
      Some(s"""$SrcCte
        SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
               src2.value AS v2, src3.key AS k3, src3.value AS v3
        FROM src src1
        LEFT OUTER JOIN src src2
          ON (src1.key = src2.key AND CAST(src1.key AS DOUBLE) < 10
              AND CAST(src2.key AS DOUBLE) > 10)
        RIGHT OUTER JOIN src src3
          ON (src2.key = src3.key AND CAST(src3.key AS DOUBLE) < 10)
        ORDER BY k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
                 v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST""")),

    // ---- clientpositive/join22.q: doubly-nested join subqueries with
    //      star-expansion of an aliased subquery, single-column projection
    QueryDef(
      "q230_qf_join22",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src5.src1_value FROM
             (SELECT src3.*, src4.value as src4_value, src4.key as src4_key
              FROM src src4
              JOIN (SELECT src2.*, src1.key as src1_key, src1.value as src1_value
                    FROM src src1 JOIN src src2 ON src1.key = src2.key) src3
              ON src3.src1_key = src4.key) src5
             ORDER BY src1_value""")
      },
      Some(s"""$SrcCte
        SELECT src5.src1_value FROM
        (SELECT src3.*, src4.value AS src4_value, src4.key AS src4_key
         FROM src src4
         JOIN (SELECT src2.*, src1.key AS src1_key, src1.value AS src1_value
               FROM src src1 JOIN src src2 ON src1.key = src2.key) src3
         ON src3.src1_key = src4.key) src5
        ORDER BY src1_value""")),

    // ---- clientpositive/join23.q: cartesian JOIN (no ON) restricted by
    //      WHERE on both sides
    QueryDef(
      "q231_qf_join23",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2
             FROM src src1 JOIN src src2
             WHERE src1.key < 10 and src2.key < 10
             SORT BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte
        SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
               src2.value AS v2
        FROM src src1 CROSS JOIN src src2
        WHERE CAST(src1.key AS DOUBLE) < 10 AND CAST(src2.key AS DOUBLE) < 10
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/join24.q: aggregate into a dest, then sum over a
    //      self-join of the aggregated table
    QueryDef(
      "q232_qf_join24",
      (s, dir) => {
        val d = s"tst1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"create table $d(key STRING, cnt INT)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d " +
          "SELECT a.key, count(1) FROM src a group by a.key")
        HiveQl.sql(s, s"SELECT sum(a.cnt) AS s FROM $d a JOIN $d b ON a.key = b.key")
      },
      Some(s"""$SrcCte
        SELECT CAST(sum(a.cnt) AS BIGINT) AS s
        FROM (SELECT key, count(1) AS cnt FROM src GROUP BY key) a
        JOIN (SELECT key, count(1) AS cnt FROM src GROUP BY key) b
        ON a.key = b.key""")),

    // ================= round-11 battery growth: ppd tranche 2 ===========

    // ---- clientpositive/ppd_gby_join.q: pushdown through a join of two
    //      filtered subqueries under a GROUP BY, all-STRING comparisons
    //      (lexicographic, NOT numeric) — run under both
    //      hive.ppd.remove.duplicatefilters settings like the .q
    QueryDef(
      "q233_qf_ppd_gby_join",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s, "SET hive.ppd.remove.duplicatefilters=false")
        val q =
          """SELECT src1.c1, count(1) AS cnt
             FROM
             (SELECT src.key AS c1, src.value AS c2 from src where src.key > '1' ) src1
             JOIN
             (SELECT src.key AS c3, src.value AS c4 from src where src.key > '2' ) src2
             ON src1.c1 = src2.c3 AND src1.c1 < '400'
             WHERE src1.c1 > '20' AND (src1.c2 < 'val_50' OR src1.c1 > '2')
               AND (src2.c3 > '50' OR src1.c1 < '50') AND (src2.c3 <> '4')
             GROUP BY src1.c1
             ORDER BY c1"""
        HiveQl.sql(s, q).count()
        HiveQl.sql(s, "SET hive.ppd.remove.duplicatefilters=true")
        HiveQl.sql(s, q)
      },
      Some(s"""$SrcCte
        SELECT src1.c1, count(1) AS cnt
        FROM
        (SELECT src.key AS c1, src.value AS c2 FROM src WHERE src.key > '1') src1
        JOIN
        (SELECT src.key AS c3, src.value AS c4 FROM src WHERE src.key > '2') src2
        ON src1.c1 = src2.c3 AND src1.c1 < '400'
        WHERE src1.c1 > '20' AND (src1.c2 < 'val_50' OR src1.c1 > '2')
          AND (src2.c3 > '50' OR src1.c1 < '50') AND (src2.c3 <> '4')
        GROUP BY src1.c1
        ORDER BY c1""")),

    // ---- clientpositive/ppd_join3.q: three-way join of filtered
    //      subqueries with <>-heavy residuals, duplicate-bearing projection
    QueryDef(
      "q234_qf_ppd_join3",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src where src.key <> '11' ) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src where src.key <> '12' ) src2
             ON src1.c1 = src2.c3 AND src1.c1 < '400'
             JOIN
             (SELECT src.key as c5, src.value as c6 from src where src.key <> '13' ) src3
             ON src1.c1 = src3.c5
             WHERE src1.c1 > '0' and (src1.c2 <> 'val_500' or src1.c1 > '1')
               and (src2.c3 > '10' or src1.c1 <> '10') and (src2.c3 <> '4')
               and (src3.c5 <> '1')
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT src1.c1, src2.c4
        FROM
        (SELECT src.key AS c1, src.value AS c2 FROM src WHERE src.key <> '11') src1
        JOIN
        (SELECT src.key AS c3, src.value AS c4 FROM src WHERE src.key <> '12') src2
        ON src1.c1 = src2.c3 AND src1.c1 < '400'
        JOIN
        (SELECT src.key AS c5, src.value AS c6 FROM src WHERE src.key <> '13') src3
        ON src1.c1 = src3.c5
        WHERE src1.c1 > '0' AND (src1.c2 <> 'val_500' OR src1.c1 > '1')
          AND (src2.c3 > '10' OR src1.c1 <> '10') AND (src2.c3 <> '4')
          AND (src3.c5 <> '1')
        ORDER BY c1, c4""")),

    // ---- clientpositive/ppd_multi_insert.q: FOUR pushdown targets off one
    //      self-join scan — two plain dests, a static-partition dest, and
    //      an INSERT OVERWRITE DIRECTORY (path adapted to tmp; the .q's
    //      relative build path), read back union-tagged
    QueryDef(
      "q235_qf_ppd_multi_insert",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (m1, m2, m3) = (s"mi1_$sfx", s"mi2_$sfx", s"mi3_$sfx")
        fresh(s, m1, m2, m3)
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_qf_mi4_$sfx.out")
        org.apache.commons.io.FileUtils.deleteQuietly(out)
        HiveQl.sql(s, s"CREATE TABLE $m1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $m2(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $m3(key INT) PARTITIONED BY(ds STRING, hr STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s,
          s"""FROM src a JOIN src b ON (a.key = b.key)
              INSERT OVERWRITE TABLE $m1 SELECT a.* WHERE a.key < 100
              INSERT OVERWRITE TABLE $m2 SELECT a.key, a.value WHERE a.key >= 100 and a.key < 200
              INSERT OVERWRITE TABLE $m3 PARTITION(ds='2008-04-08', hr='12') SELECT a.key WHERE a.key >= 200 and a.key < 300
              INSERT OVERWRITE DIRECTORY '${out.getAbsolutePath}' SELECT a.value WHERE a.key >= 300""")
        val dir4 = s.read.format("graft.sources.HiveTextSource")
          .schema("value STRING").load(out.getAbsolutePath)
        dir4.createOrReplaceTempView("qf_mi4")
        HiveQl.sql(s,
          s"""SELECT 'm1' AS tag, key, value FROM $m1
              UNION ALL SELECT 'm2', key, value FROM $m2
              UNION ALL SELECT 'm3', key, CAST(NULL AS STRING) FROM $m3
              UNION ALL SELECT 'm4', CAST(NULL AS INT), value FROM qf_mi4
              ORDER BY tag, key, value""")
      },
      Some(s"""$SrcCte, j AS (
          SELECT a.key, a.value FROM src a JOIN src b ON a.key = b.key)
        SELECT tag, key, value FROM (
          SELECT 'm1' AS tag, CAST(key AS INT) AS key, value FROM j
          WHERE CAST(key AS DOUBLE) < 100
          UNION ALL
          SELECT 'm2', CAST(key AS INT), value FROM j
          WHERE CAST(key AS DOUBLE) >= 100 AND CAST(key AS DOUBLE) < 200
          UNION ALL
          SELECT 'm3', CAST(key AS INT), CAST(NULL AS VARCHAR) FROM j
          WHERE CAST(key AS DOUBLE) >= 200 AND CAST(key AS DOUBLE) < 300
          UNION ALL
          SELECT 'm4', CAST(NULL AS INT), value FROM j
          WHERE CAST(key AS DOUBLE) >= 300) u
        ORDER BY tag, key NULLS FIRST, value NULLS FIRST""")),

    // ---- clientpositive/ppd_constant_expr.q: constant-folded NULL
    //      arithmetic (4 + NULL, key - NULL, NULL + NULL) through typed
    //      dest columns off the kv3-shaped src1
    QueryDef(
      "q236_qf_ppd_constant_expr",
      (s, dir) => {
        val d = s"ppd_constant_expr_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING, c2 INT, c3 DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d " +
          "SELECT 4 + NULL, src1.key - NULL, NULL + NULL")
        HiveQl.sql(s, s"SELECT $d.*, 1 AS one FROM $d")
      },
      Some(s"""$Src1Cte
        SELECT CAST(NULL AS VARCHAR) AS c1, CAST(NULL AS INT) AS c2,
               CAST(NULL AS DOUBLE) AS c3, 1 AS one
        FROM src1""")),

    // ---- clientpositive/ppd_udf_col.q: pushdown must STOP at a
    //      nondeterministic projection — the rand()-derived filter stays
    //      above the Project computing rand() (in-plan require), while the
    //      deterministic key filter still reaches the scan; the two
    //      constant-false derived-column variants return empty
    QueryDef(
      "q237_qf_ppd_udf_col",
      (s, dir) => {
        fixtures(s, dir)
        val df = HiveQl.sql(s,
          """SELECT key, randum123
             FROM (SELECT *, cast(rand() as double) AS randum123 FROM src WHERE key = 100) a
             WHERE randum123 <= 0.1""")
        val plan = df.queryExecution.optimizedPlan.toString
        val fRand = plan.indexOf("<= 0.1")
        val pRand = plan.indexOf("rand(")
        require(fRand >= 0 && pRand >= 0 && fRand < pRand,
          s"rand()-derived filter must sit ABOVE the rand() projection:\n$plan")
        require(plan.indexOf("= 100.0") > pRand,
          s"deterministic key filter must push BELOW the rand() projection:\n$plan")
        val n3 = HiveQl.sql(s,
          """SELECT key, randum123, h4
             FROM (SELECT *, cast(rand() as double) AS randum123, hex(4) AS h4
                   FROM src WHERE key = 100) a
             WHERE a.h4 <= 3""").count()
        val n4 = HiveQl.sql(s,
          """SELECT key, randum123, v10
             FROM (SELECT *, cast(rand() as double) AS randum123, value*10 AS v10
                   FROM src WHERE key = 100) a
             WHERE a.v10 <= 200""").count()
        import s.implicits._
        Seq((1, n3, n4)).toDF("ok", "n3", "n4")
      },
      Some("SELECT 1 AS ok, CAST(0 AS BIGINT) AS n3, CAST(0 AS BIGINT) AS n4")),

    // ================= round-11 battery growth: union tranche ===========

    // ---- clientpositive/union4.q: union of two map-reduce-side aggregates
    //      through an INT dest (count BIGINT -> INT store cast)
    QueryDef(
      "q238_qf_union4",
      (s, dir) => {
        val d = s"tmptable_u4_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"create table $d(key string, value int)")
        HiveQl.sql(s,
          s"""insert overwrite table $d
              select unionsrc.key, unionsrc.value FROM (select 'tst1' as key, count(1) as value from src s1
                                                    UNION  ALL
                                                        select 'tst2' as key, count(1) as value from src s2) unionsrc""")
        HiveQl.sql(s, s"select * from $d x sort by x.key")
      },
      Some(s"""$SrcCte
        SELECT key, CAST(value AS INT) AS value FROM (
          SELECT 'tst1' AS key, count(1) AS value FROM src
          UNION ALL
          SELECT 'tst2' AS key, count(1) AS value FROM src) u
        ORDER BY key""")),

    // ---- clientpositive/union5.q: GROUP BY over a union of aggregates
    QueryDef(
      "q239_qf_union5",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, count(1) AS cnt FROM (select 'tst1' as key, count(1) as value from src s1
                                            UNION  ALL
                                              select 'tst2' as key, count(1) as value from src s2) unionsrc group by unionsrc.key
             ORDER BY key""")
      },
      Some(s"""$SrcCte
        SELECT key, count(1) AS cnt FROM (
          SELECT 'tst1' AS key, count(1) AS value FROM src
          UNION ALL
          SELECT 'tst2' AS key, count(1) AS value FROM src) u
        GROUP BY key ORDER BY key""")),

    // ---- clientpositive/union6.q: union of an aggregate with the
    //      empty-string-bearing src1 rows through a dest
    QueryDef(
      "q240_qf_union6",
      (s, dir) => {
        val d = s"tmptable_u6_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"create table $d(key string, value string)")
        HiveQl.sql(s,
          s"""insert overwrite table $d
              select unionsrc.key, unionsrc.value FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                                    UNION  ALL
                                                        select s2.key as key, s2.value as value from src1 s2) unionsrc""")
        HiveQl.sql(s, s"select * from $d x sort by x.key, x.value")
      },
      Some(s"""$Src1Cte
        SELECT key, value FROM (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL
          SELECT key, value FROM src1) u
        ORDER BY key, value""")),

    // ---- clientpositive/union7.q: GROUP BY over aggregate-with-src1 union
    QueryDef(
      "q241_qf_union7",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, count(1) AS cnt FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                              UNION  ALL
                                                select s2.key as key, s2.value as value from src1 s2) unionsrc group by unionsrc.key
             ORDER BY key""")
      },
      Some(s"""$Src1Cte
        SELECT key, count(1) AS cnt FROM (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL
          SELECT key, value FROM src1) u
        GROUP BY key ORDER BY key""")),

    // ---- clientpositive/union8.q: three-branch self-union, plain select
    QueryDef(
      "q242_qf_union8",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, unionsrc.value FROM (select s1.key as key, s1.value as value from src s1 UNION  ALL
                                                      select s2.key as key, s2.value as value from src s2 UNION  ALL
                                                      select s3.key as key, s3.value as value from src s3) unionsrc
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src UNION ALL
          SELECT key, value FROM src UNION ALL
          SELECT key, value FROM src) u
        ORDER BY key, value""")),

    // ---- clientpositive/union9.q: count over the three-branch union
    QueryDef(
      "q243_qf_union9",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select count(1) AS cnt FROM (select s1.key as key, s1.value as value from src s1 UNION  ALL
                                  select s2.key as key, s2.value as value from src s2 UNION ALL
                                  select s3.key as key, s3.value as value from src s3) unionsrc""")
      },
      Some(s"""$SrcCte
        SELECT count(1) AS cnt FROM (
          SELECT key, value FROM src UNION ALL
          SELECT key, value FROM src UNION ALL
          SELECT key, value FROM src) u""")),

    // ---- clientpositive/union10.q: three aggregate branches into a dest
    QueryDef(
      "q244_qf_union10",
      (s, dir) => {
        val d = s"tmptable_u10_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"create table $d(key string, value int)")
        HiveQl.sql(s,
          s"""insert overwrite table $d
              select unionsrc.key, unionsrc.value FROM (select 'tst1' as key, count(1) as value from src s1
                                                    UNION  ALL
                                                        select 'tst2' as key, count(1) as value from src s2
                                                    UNION ALL
                                                        select 'tst3' as key, count(1) as value from src s3) unionsrc""")
        HiveQl.sql(s, s"select * from $d x sort by x.key")
      },
      Some(s"""$SrcCte
        SELECT key, CAST(value AS INT) AS value FROM (
          SELECT 'tst1' AS key, count(1) AS value FROM src
          UNION ALL SELECT 'tst2', count(1) FROM src
          UNION ALL SELECT 'tst3', count(1) FROM src) u
        ORDER BY key""")),

    // ---- clientpositive/union11.q: GROUP BY over three aggregate branches
    QueryDef(
      "q245_qf_union11",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, count(1) AS cnt FROM (select 'tst1' as key, count(1) as value from src s1
                                              UNION  ALL
                                                  select 'tst2' as key, count(1) as value from src s2
                                              UNION ALL
                                                  select 'tst3' as key, count(1) as value from src s3) unionsrc group by unionsrc.key
             ORDER BY key""")
      },
      Some("""SELECT key, CAST(cnt AS BIGINT) AS cnt FROM (VALUES
          ('tst1', 1), ('tst2', 1), ('tst3', 1)) v(key, cnt)
        ORDER BY key""")),

    // ---- clientpositive/union13.q: two-branch self-union, plain select
    QueryDef(
      "q246_qf_union13",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, unionsrc.value FROM (select s1.key as key, s1.value as value from src s1 UNION  ALL
                                                      select s2.key as key, s2.value as value from src s2) unionsrc
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src UNION ALL
          SELECT key, value FROM src) u
        ORDER BY key, value""")),

    // ---- clientpositive/union14.q: src1 first, aggregate branch second
    //      (map-side/reduce-side branch order flipped vs union7)
    QueryDef(
      "q247_qf_union14",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, count(1) AS cnt FROM (select s2.key as key, s2.value as value from src1 s2
                                                UNION  ALL
                                              select 'tst1' as key, cast(count(1) as string) as value from src s1)
             unionsrc group by unionsrc.key
             ORDER BY key""")
      },
      Some(s"""$Src1Cte
        SELECT key, count(1) AS cnt FROM (
          SELECT key, value FROM src1
          UNION ALL
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src) u
        GROUP BY key ORDER BY key""")),

    // ---- clientpositive/union15.q: one aggregate branch + src1 twice —
    //      per-key counts double for the repeated side
    QueryDef(
      "q248_qf_union15",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select unionsrc.key, count(1) AS cnt FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                                UNION  ALL
                                                    select s2.key as key, s2.value as value from src1 s2
                                                UNION  ALL
                                                    select s3.key as key, s3.value as value from src1 s3) unionsrc group by unionsrc.key
             ORDER BY key""")
      },
      Some(s"""$Src1Cte
        SELECT key, count(1) AS cnt FROM (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL SELECT key, value FROM src1
          UNION ALL SELECT key, value FROM src1) u
        GROUP BY key ORDER BY key""")),

    // ---- clientpositive/union16.q: 25-way self-union under one count —
    //      plan-width stress; the .q's point is the single-scan rewrite
    QueryDef(
      "q249_qf_union16",
      (s, dir) => {
        fixtures(s, dir)
        val branch = "SELECT key, value FROM src"
        HiveQl.sql(s,
          "SELECT count(1) AS cnt FROM (" +
            Seq.fill(25)(branch).mkString(" UNION ALL ") + ") u")
      },
      Some(s"""$SrcCte
        SELECT 25 * count(1) AS cnt FROM src""")),

    // ---- clientpositive/union17.q: one union scan into TWO dests with
    //      different GROUP BYs and COUNT(DISTINCT SUBSTR) — substr past the
    //      string's end is '' (not NULL) and counts as one distinct value
    QueryDef(
      "q250_qf_union17",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest1_u17_$sfx", s"dest2_u17_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key STRING, val1 STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                       UNION  ALL
                    select s2.key as key, s2.value as value from src s2) unionsrc
              INSERT OVERWRITE TABLE $d1 SELECT unionsrc.key, COUNT(DISTINCT SUBSTR(unionsrc.value,5)) GROUP BY unionsrc.key
              INSERT OVERWRITE TABLE $d2 SELECT unionsrc.key, unionsrc.value, COUNT(DISTINCT SUBSTR(unionsrc.value,5)) GROUP BY unionsrc.key, unionsrc.value""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value AS val1, CAST(NULL AS STRING) AS val2 FROM $d1
              UNION ALL SELECT 'd2', key, val1, val2 FROM $d2
              ORDER BY tag, key, val1, val2""")
      },
      Some(s"""$SrcCte, u AS (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL SELECT key, value FROM src)
        SELECT tag, key, val1, val2 FROM (
          SELECT 'd1' AS tag, key,
                 CAST(count(DISTINCT substr(value, 5)) AS VARCHAR) AS val1,
                 CAST(NULL AS VARCHAR) AS val2
          FROM u GROUP BY key
          UNION ALL
          SELECT 'd2', key, value,
                 CAST(count(DISTINCT substr(value, 5)) AS VARCHAR)
          FROM u GROUP BY key, value) t
        ORDER BY tag, key, val1, val2 NULLS FIRST""")),

    // ---- clientpositive/union18.q: same union into two dests, no
    //      aggregation — every union row lands in both
    QueryDef(
      "q251_qf_union18",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest1_u18_$sfx", s"dest2_u18_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key STRING, val1 STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                       UNION  ALL
                    select s2.key as key, s2.value as value from src s2) unionsrc
              INSERT OVERWRITE TABLE $d1 SELECT unionsrc.key, unionsrc.value
              INSERT OVERWRITE TABLE $d2 SELECT unionsrc.key, unionsrc.value, unionsrc.value""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value AS val1, CAST(NULL AS STRING) AS val2 FROM $d1
              UNION ALL SELECT 'd2', key, val1, val2 FROM $d2
              ORDER BY tag, key, val1, val2""")
      },
      Some(s"""$SrcCte, u AS (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL SELECT key, value FROM src)
        SELECT tag, key, val1, val2 FROM (
          SELECT 'd1' AS tag, key, value AS val1, CAST(NULL AS VARCHAR) AS val2 FROM u
          UNION ALL
          SELECT 'd2', key, value, value FROM u) t
        ORDER BY tag, key, val1, val2 NULLS FIRST""")),

    // ---- clientpositive/union19.q: one dest aggregated, one dest plain,
    //      off the same union scan
    QueryDef(
      "q252_qf_union19",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest1_u19_$sfx", s"dest2_u19_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(key STRING, val1 STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                       UNION  ALL
                    select s2.key as key, s2.value as value from src s2) unionsrc
              INSERT OVERWRITE TABLE $d1 SELECT unionsrc.key, count(unionsrc.value) group by unionsrc.key
              INSERT OVERWRITE TABLE $d2 SELECT unionsrc.key, unionsrc.value, unionsrc.value""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, value AS val1, CAST(NULL AS STRING) AS val2 FROM $d1
              UNION ALL SELECT 'd2', key, val1, val2 FROM $d2
              ORDER BY tag, key, val1, val2""")
      },
      Some(s"""$SrcCte, u AS (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL SELECT key, value FROM src)
        SELECT tag, key, val1, val2 FROM (
          SELECT 'd1' AS tag, key, CAST(count(value) AS VARCHAR) AS val1,
                 CAST(NULL AS VARCHAR) AS val2
          FROM u GROUP BY key
          UNION ALL
          SELECT 'd2', key, value, value FROM u) t
        ORDER BY tag, key, val1, val2 NULLS FIRST""")),

    // ---- clientpositive/union20.q: JOIN of two unions on the union
    //      output key — aggregate branches match each other, small keys
    //      match per-branch
    QueryDef(
      "q253_qf_union20",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT unionsrc1.key AS k1, unionsrc1.value AS v1,
                    unionsrc2.key AS k2, unionsrc2.value AS v2
             FROM (select 'tst1' as key, cast(count(1) as string) as value from src s1
                                      UNION  ALL
                   select s2.key as key, s2.value as value from src s2 where s2.key < 10) unionsrc1
             JOIN
                  (select 'tst1' as key, cast(count(1) as string) as value from src s3
                                      UNION  ALL
                   select s4.key as key, s4.value as value from src s4 where s4.key < 10) unionsrc2
             ON (unionsrc1.key = unionsrc2.key)
             ORDER BY k1, v1, k2, v2""")
      },
      Some(s"""$SrcCte, u AS (
          SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
          UNION ALL
          SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) < 10)
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM u a JOIN u b ON a.key = b.key
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/union21.q: union across heterogeneous sources —
    //      constants, reverse(key), src keys, and the thrift fixture's
    //      astring / lstring[0]; NULL forms its own group
    QueryDef(
      "q254_qf_union21",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT key, count(1) AS cnt
             FROM (
               SELECT '1' as key from src
               UNION ALL
               SELECT reverse(key) as key from src
               UNION ALL
               SELECT key as key from src
               UNION ALL
               SELECT astring as key from src_thrift
               UNION ALL
               SELECT lstring[0] as key from src_thrift
             ) union_output
             GROUP BY key
             ORDER BY key""")
      },
      Some(s"""$SrcCte, th(astring, l0) AS (VALUES
          ('record_0', '0'), ('record_1', '10'), ('record_2', '20'),
          ('record_3', '30'), ('record_4', '40'), ('record_5', '50'),
          ('record_6', '60'), ('record_7', '70'), ('record_8', '80'),
          ('record_9', '90'), (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)))
        SELECT key, count(1) AS cnt FROM (
          SELECT '1' AS key FROM src
          UNION ALL SELECT reverse(key) FROM src
          UNION ALL SELECT key FROM src
          UNION ALL SELECT astring FROM th
          UNION ALL SELECT l0 FROM th) u
        GROUP BY key ORDER BY key NULLS FIRST""")),

    // ---- clientpositive/union22.q: partitioned dest rebuilt from a union
    //      of a filtered delta slice and a MAPJOIN left-outer against the
    //      previous partition — string-numeric k0 <= 50 coercion decides
    //      the split
    QueryDef(
      "q255_qf_union22",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, td) = (s"dst_union22_$sfx", s"dst_union22_delta_$sfx")
        fresh(s, t, td)
        HiveQl.sql(s, s"create table $t(k1 string, k2 string, k3 string, k4 string) partitioned by (ds string)")
        HiveQl.sql(s, s"create table $td(k0 string, k1 string, k2 string, k3 string, k4 string, k5 string) partitioned by (ds string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='1') select key, value, key , value from src")
        HiveQl.sql(s, s"insert overwrite table $td partition (ds='1') select key, key, value, key, value, value from src")
        HiveQl.sql(s,
          s"""insert overwrite table $t partition (ds='2')
              select * from
              (
              select k1 as k1, k2 as k2, k3 as k3, k4 as k4 from $td where ds = '1' and k0 <= 50
              union all
              select /*+ MAPJOIN(b) */ a.k1 as k1, a.k2 as k2, b.k3 as k3, b.k4 as k4
              from $t a left outer join (select * from $td where ds = '1' and k0 > 50) b on
              a.k1 = b.k1 and a.ds='1'
              ) subq""")
        HiveQl.sql(s, s"select * from $t where ds='2' order by k1, k2, k3, k4")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS k1, value AS k2, key AS k3, value AS k4 FROM src),
          delta AS (SELECT key AS k0, key AS k1, value AS k2, key AS k3,
                           value AS k4, value AS k5 FROM src)
        SELECT k1, k2, k3, k4, '2' AS ds FROM (
          SELECT k1, k2, k3, k4 FROM delta WHERE TRY_CAST(k0 AS DOUBLE) <= 50
          UNION ALL
          SELECT a.k1, a.k2, b.k3, b.k4 FROM a LEFT OUTER JOIN
            (SELECT * FROM delta WHERE TRY_CAST(k0 AS DOUBLE) > 50) b
            ON a.k1 = b.k1) u
        ORDER BY k1, k2, k3 NULLS FIRST, k4 NULLS FIRST""")),

    // ---- clientpositive/union23.q: TRANSFORM branch unioned with a plain
    //      branch — the script output (STRING,STRING) must union cleanly
    QueryDef(
      "q256_qf_union23",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select s.key2, s.value2
             from (
               select transform(key, value) using 'cat' as (key2, value2)
               from src
               union all
               select key as key2, value as value2 from src) s
             order by s.key2, s.value2""")
      },
      Some(s"""$SrcCte
        SELECT key2, value2 FROM (
          SELECT key AS key2, value AS value2 FROM src
          UNION ALL
          SELECT key, value FROM src) u
        ORDER BY key2, value2""")),

    // ---- clientpositive/union_ppr.q: partition pruning THROUGH a union —
    //      the ds filter must prune both branches' srcpart scans
    QueryDef(
      "q257_qf_union_ppr",
      (s, dir) => {
        fixtures(s, dir)
        // SORT BY is a per-reducer sort; the .q's golden is TOTALLY ordered
        // because QTestUtil runs one reducer. The Spark translation
        // (sortWithinPartitions) only matched that total order by physical
        // accident (AQE used to coalesce the union's branch shuffles into
        // one partition; the staged srcpart scan has no exchange for AQE
        // to touch, so the branches stay separate partitions). Pin the
        // single-reducer total order explicitly — same rows, same bytes,
        // deterministic under any layout.
        HiveQl.sql(s,
          """SELECT A.key AS key, A.value AS value, A.ds AS ds, A.hr AS hr
             FROM (
               SELECT X.* FROM SRCPART X WHERE X.key < 100
               UNION ALL
               SELECT Y.* FROM SRCPART Y WHERE Y.key < 100
             ) A
             WHERE A.ds = '2008-04-08'
             SORT BY key, value, ds, hr""")
          .orderBy("key", "value", "ds", "hr")
      },
      Some(s"""$SrcPartCte
        SELECT key, value, ds, hr FROM (
          SELECT * FROM srcpart WHERE TRY_CAST(key AS DOUBLE) < 100
          UNION ALL
          SELECT * FROM srcpart WHERE TRY_CAST(key AS DOUBLE) < 100) u
        WHERE ds = '2008-04-08'
        ORDER BY key, value, ds, hr""")),

    // ========== round-11 battery growth: udf singles (golden-paired) ====
    // Each runs the .q's constant selects (merged into one row — the .q
    // splits them only to bound golden-file width) with the expected
    // values transcribed from the reference's own
    // ql/src/test/results/clientpositive/<f>.q.out goldens.

    // ---- clientpositive/udf_conv.q: signed target bases, 64-bit
    //      wraparound, invalid-digit prefix parse ('123455' in base 3
    //      parses '12'), out-of-range bases -> NULL
    QueryDef(
      "q258_qf_udf_conv",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT
               conv('4521', 10, 36) AS c1, conv('22', 10, 10) AS c2,
               conv('110011', 2, 16) AS c3, conv('facebook', 36, 16) AS c4,
               conv(-641, 10, -10) AS c5, conv(1011, 2, -16) AS c6,
               conv(-1, 10, 16) AS c7, conv(-15, 10, 16) AS c8,
               conv(9223372036854775807, 36, 16) AS c9,
               conv(9223372036854775807, 36, -16) AS c10,
               conv(-9223372036854775807, 36, 16) AS c11,
               conv(-9223372036854775807, 36, -16) AS c12,
               conv(123455, 3, 10) AS c13, conv(131, 1, 5) AS c14,
               conv(515, 5, 100) AS c15, conv('10', -2, 2) AS c16
             FROM src LIMIT 1""")
      },
      Some("""SELECT '3HL' AS c1, '22' AS c2, '33' AS c3,
                     '116ED2B2FB4' AS c4, '-641' AS c5, 'B' AS c6,
                     'FFFFFFFFFFFFFFFF' AS c7, 'FFFFFFFFFFFFFFF1' AS c8,
                     'FFFFFFFFFFFFFFFF' AS c9, '-1' AS c10,
                     'FFFFFFFFFFFFFFFF' AS c11, '-1' AS c12, '5' AS c13,
                     CAST(NULL AS VARCHAR) AS c14, CAST(NULL AS VARCHAR) AS c15,
                     CAST(NULL AS VARCHAR) AS c16""")),

    // ---- clientpositive/udf_hex.q: string bytes, numeric, negative
    //      (64-bit two's complement)
    QueryDef(
      "q259_qf_udf_hex",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT hex('Facebook') AS c1,
                    hex('qwertyuiopasdfghjkl') AS c2,
                    hex(1) AS c3, hex(0) AS c4, hex(4207849477) AS c5,
                    hex(-5) AS c6
             FROM src LIMIT 1""")
      },
      Some("""SELECT '46616365626F6F6B' AS c1,
                     '71776572747975696F706173646667686A6B6C' AS c2,
                     '1' AS c3, '0' AS c4, 'FACEB005' AS c5,
                     'FFFFFFFFFFFFFFFB' AS c6""")),

    // ---- clientpositive/udf_bin.q
    QueryDef(
      "q260_qf_udf_bin",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT bin(1) AS c1, bin(0) AS c2, bin(99992421) AS c3, " +
            "bin(-5) AS c4 FROM src LIMIT 1")
      },
      Some("""SELECT '1' AS c1, '0' AS c2,
                     '101111101011100001101100101' AS c3,
                     '1111111111111111111111111111111111111111111111111111111111111011' AS c4""")),

    // ---- clientpositive/udf_find_in_set.q: comma-list membership with
    //      empty elements, NULLs, needle-with-comma, plus the .q's two
    //      src1-driven forms folded into aggregates
    QueryDef(
      "q261_qf_udf_find_in_set",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT
               find_in_set('ab','ab,abc,abcde') AS f1,
               find_in_set('ab','abc,ab,bbb') AS f2,
               find_in_set('ab','def,abc,ab') AS f3,
               find_in_set('ab','abc,abd,abf') AS f4,
               find_in_set(null,'a,b,c') AS f5,
               find_in_set('a',null) AS f6,
               find_in_set('', '') AS f7,
               find_in_set('',',') AS f8,
               find_in_set('','a,,b') AS f9,
               find_in_set('','a,b,') AS f10,
               find_in_set(',','a,b,d,') AS f11,
               find_in_set('a','') AS f12,
               find_in_set('a,','a,b,c,d') AS f13,
               (SELECT sum(find_in_set(src1.key, concat(src1.key,',',src1.value))) FROM src1) AS s25,
               (SELECT count(*) FROM src1 WHERE NOT find_in_set(key,'311,128,345,2,956')=0) AS nf
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(1 AS INT) AS f1, CAST(2 AS INT) AS f2,
                     CAST(3 AS INT) AS f3, CAST(0 AS INT) AS f4,
                     CAST(NULL AS INT) AS f5, CAST(NULL AS INT) AS f6,
                     CAST(1 AS INT) AS f7, CAST(1 AS INT) AS f8,
                     CAST(2 AS INT) AS f9, CAST(3 AS INT) AS f10,
                     CAST(0 AS INT) AS f11, CAST(0 AS INT) AS f12,
                     CAST(0 AS INT) AS f13, CAST(25 AS BIGINT) AS s25,
                     CAST(0 AS BIGINT) AS nf""")),

    // ---- clientpositive/udf_locate.q: every coercible operand shape —
    //      numeric haystacks via string cast, boolean, NULL pos -> 0,
    //      unparseable pos -> 0 (Hive casts and treats failure as 0)
    QueryDef(
      "q262_qf_udf_locate",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT locate('abc', 'abcd') AS c1,
                    locate('ccc', 'abcabc') AS c2,
                    locate('23', 123) AS c3,
                    locate(23, 123) AS c4,
                    locate('abc', 'abcabc', 2) AS c5,
                    locate('abc', 'abcabc', '2') AS c6,
                    locate(1, TRUE) AS c7,
                    locate(1, FALSE) AS c8,
                    locate(CAST('2' AS TINYINT), '12345') AS c9,
                    locate('34', CAST('12345' AS SMALLINT)) AS c10,
                    locate('456', CAST('123456789012' AS BIGINT)) AS c11,
                    locate('.25', CAST(1.25 AS FLOAT)) AS c12,
                    locate('.0', CAST(16.0 AS DOUBLE)) AS c13,
                    locate(null, 'abc') AS c14,
                    locate('abc', null) AS c15,
                    locate('abc', 'abcd', null) AS c16
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(1 AS INT) AS c1, CAST(0 AS INT) AS c2,
                     CAST(2 AS INT) AS c3, CAST(2 AS INT) AS c4,
                     CAST(4 AS INT) AS c5, CAST(4 AS INT) AS c6,
                     CAST(0 AS INT) AS c7, CAST(0 AS INT) AS c8,
                     CAST(2 AS INT) AS c9, CAST(3 AS INT) AS c10,
                     CAST(4 AS INT) AS c11, CAST(2 AS INT) AS c12,
                     CAST(3 AS INT) AS c13, CAST(NULL AS INT) AS c14,
                     CAST(NULL AS INT) AS c15, CAST(0 AS INT) AS c16""")),

    // ---- clientpositive/udf_lpad.q
    QueryDef(
      "q263_qf_udf_lpad",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT lpad('hi', 1, '?') AS c1, lpad('hi', 5, '.') AS c2, " +
            "lpad('hi', 6, '123') AS c3 FROM src LIMIT 1")
      },
      Some("SELECT 'h' AS c1, '...hi' AS c2, '1231hi' AS c3")),

    // ---- clientpositive/udf_rpad.q
    QueryDef(
      "q264_qf_udf_rpad",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT rpad('hi', 1, '?') AS c1, rpad('hi', 5, '.') AS c2, " +
            "rpad('hi', 6, '123') AS c3 FROM src LIMIT 1")
      },
      Some("SELECT 'h' AS c1, 'hi...' AS c2, 'hi1231' AS c3")),

    // ---- clientpositive/udf_concat_ws.q: column separator, NULL
    //      separator -> NULL, NULL element skipped. ADAPTATION: the .q
    //      filters src.key = 86 (present in kv1.txt); 86 is not a
    //      quadratic residue mod 500 so our derived src lacks it — key
    //      100 keeps the same single-distinct-row shape
    QueryDef(
      "q265_qf_udf_concat_ws",
      (s, dir) => {
        val d = s"dest1_cws_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING, c2 STRING, c3 STRING)")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT 'abc', 'xyz', '8675309'  WHERE src.key = 100")
        HiveQl.sql(s,
          s"""SELECT concat_ws($d.c1, $d.c2, $d.c3) AS c1,
                     concat_ws(',', $d.c1, $d.c2, $d.c3) AS c2,
                     concat_ws(NULL, $d.c1, $d.c2, $d.c3) AS c3,
                     concat_ws('**', $d.c1, NULL, $d.c3) AS c4 FROM $d""")
      },
      Some(s"""$SrcCte
        SELECT 'xyzabc8675309' AS c1, 'abc,xyz,8675309' AS c2,
               CAST(NULL AS VARCHAR) AS c3, 'abc**8675309' AS c4
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_pmod.q: positive modulo of negatives
    QueryDef(
      "q266_qf_udf_pmod",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CAST(pmod(null, null) AS INT) AS c1,
                    pmod(-100,9) AS c2, pmod(-50,101) AS c3,
                    pmod(-1000,29) AS c4, pmod(100,19) AS c5,
                    pmod(50,125) AS c6, pmod(300,15) AS c7
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(NULL AS INT) AS c1, CAST(8 AS INT) AS c2,
                     CAST(51 AS INT) AS c3, CAST(15 AS INT) AS c4,
                     CAST(5 AS INT) AS c5, CAST(50 AS INT) AS c6,
                     CAST(0 AS INT) AS c7""")),

    // ---- clientpositive/udf_space.q: negative lengths clamp to ''
    QueryDef(
      "q267_qf_udf_space",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT length(space(10)) AS l1, length(space(0)) AS l2,
                    length(space(1)) AS l3, length(space(-1)) AS l4,
                    length(space(-100)) AS l5,
                    space(10) AS s1, space(0) AS s2, space(1) AS s3,
                    space(-1) AS s4, space(-100) AS s5
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(10 AS INT) AS l1, CAST(0 AS INT) AS l2,
                     CAST(1 AS INT) AS l3, CAST(0 AS INT) AS l4,
                     CAST(0 AS INT) AS l5, '          ' AS s1, '' AS s2,
                     ' ' AS s3, '' AS s4, '' AS s5""")),

    // ---- clientpositive/udf_repeat.q: zero/negative repeats -> ''
    QueryDef(
      "q268_qf_udf_repeat",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT repeat("Facebook", 3) AS c1, repeat("", 4) AS c2,
                    repeat("asd", 0) AS c3, repeat("asdf", -1) AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT 'FacebookFacebookFacebook' AS c1, '' AS c2,
                     '' AS c3, '' AS c4""")),

    // ---- clientpositive/udf_abs.q: Long.MIN+1 boundary and doubles
    QueryDef(
      "q269_qf_udf_abs",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT abs(0) AS c1, abs(-1) AS c2, abs(123) AS c3,
                    abs(-9223372036854775807) AS c4,
                    abs(9223372036854775807) AS c5,
                    abs(0.0) AS d1, abs(-3.14159265) AS d2,
                    abs(3.14159265) AS d3
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(0 AS INT) AS c1, CAST(1 AS INT) AS c2,
                     CAST(123 AS INT) AS c3,
                     CAST(9223372036854775807 AS BIGINT) AS c4,
                     CAST(9223372036854775807 AS BIGINT) AS c5,
                     CAST(0.0 AS DOUBLE) AS d1,
                     CAST(3.14159265 AS DOUBLE) AS d2,
                     CAST(3.14159265 AS DOUBLE) AS d3""")),

    // ---- clientpositive/udf_sign.q: DOUBLE-typed sign
    QueryDef(
      "q270_qf_udf_sign",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT sign(0) AS c1, sign(-45) AS c2, sign(46) AS c3 " +
            "FROM src LIMIT 1")
      },
      Some("""SELECT CAST(0.0 AS DOUBLE) AS c1, CAST(-1.0 AS DOUBLE) AS c2,
                     CAST(1.0 AS DOUBLE) AS c3""")),

    // ---- clientpositive/udf_ascii.q: '' -> 0
    QueryDef(
      "q271_qf_udf_ascii",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT ascii('Facebook') AS c1, ascii('') AS c2, " +
            "ascii('!') AS c3 FROM src LIMIT 1")
      },
      Some("""SELECT CAST(70 AS INT) AS c1, CAST(0 AS INT) AS c2,
                     CAST(33 AS INT) AS c3""")),

    // ---- clientpositive/udf_substr.q: the full boundary sweep — NULL
    //      operands, zero/negative lengths, positions past both ends,
    //      pos 0 = pos 1, Integer.MAX_VALUE positions
    QueryDef(
      "q272_qf_udf_substr",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT
               substr(null, 1) AS n1, substr(null, 1, 1) AS n2,
               substr('ABC', null) AS n3, substr('ABC', null, 1) AS n4,
               substr('ABC', 1, null) AS n5,
               substr('ABC', 1, 0) AS z1, substr('ABC', 1, -1) AS z2,
               substr('ABC', 2, -100) AS z3, substr('ABC', 4) AS z4,
               substr('ABC', 4, 100) AS z5, substr('ABC', -4) AS z6,
               substr('ABC', -4, 100) AS z7, substr('ABC', 100) AS z8,
               substr('ABC', 100, 100) AS z9, substr('ABC', -100) AS z10,
               substr('ABC', -100, 100) AS z11,
               substr('ABC', 2147483647) AS z12,
               substr('ABC', 2147483647, 2147483647) AS z13,
               substr('ABCDEFG', 3, 4) AS p1, substr('ABCDEFG', -5, 4) AS p2,
               substr('ABCDEFG', 3) AS p3, substr('ABCDEFG', -5) AS p4,
               substr('ABC', 0) AS p5, substr('ABC', 1) AS p6,
               substr('ABC', 2) AS p7, substr('ABC', 3) AS p8,
               substr('ABC', 1, 2147483647) AS p9,
               substr('ABC', 2, 2147483647) AS p10,
               substr('A', 0) AS p11, substr('A', 1) AS p12,
               substr('A', -1) AS p13,
               substr('ABC', 0, 2) AS q1, substr('ABC', 1, 4) AS q2,
               substr('ABC', 2, 4) AS q3, substr('ABC', 3, 2) AS q4,
               substr('ABC', 4, 1) AS q5,
               substr('ABC', -1, 2) AS r1, substr('ABC', -2, 3) AS r2,
               substr('ABC', -3, 4) AS r3, substr('ABC', -4, 1) AS r4
             FROM src LIMIT 1""")
      },
      Some("""SELECT
          CAST(NULL AS VARCHAR) AS n1, CAST(NULL AS VARCHAR) AS n2,
          CAST(NULL AS VARCHAR) AS n3, CAST(NULL AS VARCHAR) AS n4,
          CAST(NULL AS VARCHAR) AS n5,
          '' AS z1, '' AS z2, '' AS z3, '' AS z4, '' AS z5, '' AS z6,
          '' AS z7, '' AS z8, '' AS z9, '' AS z10, '' AS z11, '' AS z12,
          '' AS z13,
          'CDEF' AS p1, 'CDEF' AS p2, 'CDEFG' AS p3, 'CDEFG' AS p4,
          'ABC' AS p5, 'ABC' AS p6, 'BC' AS p7, 'C' AS p8, 'ABC' AS p9,
          'BC' AS p10, 'A' AS p11, 'A' AS p12, 'A' AS p13,
          'AB' AS q1, 'ABC' AS q2, 'BC' AS q3, 'C' AS q4, '' AS q5,
          'C' AS r1, 'BC' AS r2, 'ABC' AS r3, '' AS r4""")),

    // ---- clientpositive/udf_10_trims.q: ten nested trims through a dest
    //      (ADAPTATION: key 86 -> 100, as q265)
    QueryDef(
      "q273_qf_udf_10_trims",
      (s, dir) => {
        val d = s"dest1_tr_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT trim(trim(trim(trim(trim(trim(trim(trim(trim(trim( '  abc  '))))))))))
              FROM src
              WHERE src.key = 100""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d")
      },
      Some(s"""$SrcCte
        SELECT 'abc' AS c1 FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_coalesce.q: typed ladders plus the thrift
    //      complex-column defaults
    QueryDef(
      "q274_qf_udf_coalesce",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT c.*, t.* FROM
             (SELECT COALESCE(1) AS c1, COALESCE(1, 2) AS c2,
                    COALESCE(NULL, 2) AS c3, COALESCE(1, NULL) AS c4,
                    COALESCE(NULL, NULL, 3) AS c5,
                    COALESCE(4, NULL, NULL, NULL) AS c6,
                    COALESCE('1') AS s1, COALESCE('1', '2') AS s2,
                    COALESCE(NULL, '2') AS s3, COALESCE('1', NULL) AS s4,
                    COALESCE(NULL, NULL, '3') AS s5,
                    COALESCE('4', NULL, NULL, NULL) AS s6,
                    COALESCE(1.0) AS d1, COALESCE(1.0, 2.0) AS d2,
                    COALESCE(NULL, 2.0) AS d3, COALESCE(NULL, 2.0, 3.0) AS d4,
                    COALESCE(2.0, NULL, 3.0) AS d5,
                    CAST(COALESCE(IF(TRUE, NULL, 0), NULL) AS INT) AS d6
              FROM src LIMIT 1) c
             JOIN
             (SELECT COALESCE(src_thrift.lint[1], 999) AS t1,
                     COALESCE(src_thrift.lintstring[0].mystring, '999') AS t2,
                     COALESCE(src_thrift.mstringstring['key_2'], '999') AS t3
              FROM src_thrift) t
             ORDER BY t1, t2, t3""")
      },
      Some("""SELECT CAST(1 AS INT) AS c1, CAST(1 AS INT) AS c2,
                     CAST(2 AS INT) AS c3, CAST(1 AS INT) AS c4,
                     CAST(3 AS INT) AS c5, CAST(4 AS INT) AS c6,
                     '1' AS s1, '1' AS s2, '2' AS s3, '1' AS s4, '3' AS s5,
                     '4' AS s6, CAST(1.0 AS DOUBLE) AS d1,
                     CAST(1.0 AS DOUBLE) AS d2, CAST(2.0 AS DOUBLE) AS d3,
                     CAST(2.0 AS DOUBLE) AS d4, CAST(2.0 AS DOUBLE) AS d5,
                     CAST(NULL AS INT) AS d6, t1, t2, t3
              FROM (VALUES
                (0, '0', '999'), (2, '1', '999'), (4, '8', 'value_2'),
                (6, '27', '999'), (8, '64', '999'), (10, '125', '999'),
                (12, '216', '999'), (14, '343', '999'), (16, '512', '999'),
                (18, '729', '999'), (999, '999', '999')) v(t1, t2, t3)
              ORDER BY t1, t2, t3""")),

    // ---- clientpositive/udf_in.q: three-valued IN, array IN,
    //      mixed-type lists (ADAPTATION: the src filter's list values
    //      238/86 are not quadratic residues mod 500 — 100/4 keep the
    //      string-vs-numeric mixed-list coercion)
    QueryDef(
      "q275_qf_udf_in",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT b.*, k.key FROM
             (SELECT 1 IN (1, 2, 3) AS b1, 4 IN (1, 2, 3) AS b2,
                     array(1,2,3) IN (array(1,2,3)) AS b3,
                     "bee" IN("aee", "bee", "cee", 1) AS b4,
                     "dee" IN("aee", "bee", "cee") AS b5,
                     (1 = 1) IN(true, false) AS b6,
                     (true IN (true, false)) = true AS b7,
                     1 IN (1, 2, 3) OR false IN(false) AS b8,
                     NULL IN (1, 2, 3) AS b9, 4 IN (1, 2, 3, NULL) AS b10,
                     (1+3) IN (5, 6, (1+2) + 1) AS b11
              FROM src LIMIT 1) b
             JOIN (SELECT key FROM src WHERE key IN ("100", 4)) k
             ORDER BY key""")
      },
      Some(s"""$SrcCte
        SELECT TRUE AS b1, FALSE AS b2, TRUE AS b3, TRUE AS b4,
               FALSE AS b5, TRUE AS b6, TRUE AS b7, TRUE AS b8,
               CAST(NULL AS BOOLEAN) AS b9, CAST(NULL AS BOOLEAN) AS b10,
               TRUE AS b11, key
        FROM src WHERE TRY_CAST(key AS DOUBLE) IN (100, 4)
        ORDER BY key""")),

    // ---- clientpositive/udf_array.q: empty array, out-of-range index
    //      -> NULL, mixed-type promotion to string, nested indexing
    //      (complex VALUES compared through scalar accessors)
    QueryDef(
      "q276_qf_udf_array",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT size(array()) AS c1, CAST(array()[1] AS STRING) AS c2,
                    array(1, 2, 3)[2] AS c3, array(1,"a", 2, 3)[2] AS c4,
                    array(array(1), array(2), array(3), array(4))[1][0] AS c5
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(0 AS INT) AS c1, CAST(NULL AS VARCHAR) AS c2,
                     CAST(3 AS INT) AS c3, '2' AS c4, CAST(2 AS INT) AS c5""")),

    // ---- clientpositive/udf_array_contains.q: scalar and array-element
    //      needles
    QueryDef(
      "q277_qf_udf_array_contains",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT array_contains(array(1, 2, 3), 1) AS c1,
                    array_contains(array(array(1,2), array(2,3), array(3,4)), array(1,2)) AS c2
             FROM src LIMIT 1""")
      },
      Some("SELECT TRUE AS c1, TRUE AS c2")),

    // ---- clientpositive/udf_map.q: empty map, int->string key coercion
    //      in the alternating form, nested array values
    QueryDef(
      "q278_qf_udf_map",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT size(map()) AS c1,
                    map(1, "a", 2, "b", 3, "c")[2] AS c2,
                    map(1, 2, "a", "b")["a"] AS c3,
                    map(1, array("a"))[1][0] AS c4,
                    map(1, 2, "a", "b")["1"] AS c5
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(0 AS INT) AS c1, 'b' AS c2, 'b' AS c3,
                     'a' AS c4, '2' AS c5""")),

    // ---- clientpositive/udf_map_keys.q (insertion order preserved)
    QueryDef(
      "q279_qf_udf_map_keys",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT map_keys(map(1, "a", 2, "b", 3, "c"))[0] AS k1,
                    map_keys(map(1, "a", 2, "b", 3, "c"))[2] AS k2,
                    concat_ws(',', map_keys(map("a", 1, "b", 2, "c", 3))) AS k3
             FROM src LIMIT 1""")
      },
      Some("SELECT CAST(1 AS INT) AS k1, CAST(3 AS INT) AS k2, 'a,b,c' AS k3")),

    // ---- clientpositive/udf_map_values.q
    QueryDef(
      "q280_qf_udf_map_values",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT concat_ws(',', map_values(map(1, "a", 2, "b", 3, "c"))) AS v1,
                    map_values(map("a", 1, "b", 2, "c", 3))[0] AS v2,
                    map_values(map("a", 1, "b", 2, "c", 3))[2] AS v3
             FROM src LIMIT 1""")
      },
      Some("SELECT 'a,b,c' AS v1, CAST(1 AS INT) AS v2, CAST(3 AS INT) AS v3")),

    // ---- clientpositive/udf_named_struct.q (field accessor)
    QueryDef(
      "q281_qf_udf_named_struct",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT named_struct("foo", 1, "bar", 2).foo AS c1,
                    named_struct("foo", 1, "bar", 2).bar AS c2
             FROM src LIMIT 1""")
      },
      Some("SELECT CAST(1 AS INT) AS c1, CAST(2 AS INT) AS c2")),

    // ---- clientpositive/udf_if.q: NULL conditions are FALSE, type
    //      promotion across branches (smallint/tinyint, int/decimal,
    //      int/string)
    QueryDef(
      "q282_qf_udf_if",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT IF(TRUE, 1, 2) AS COL1,
                    IF(FALSE, CAST(NULL AS STRING), CAST(1 AS STRING)) AS COL2,
                    IF(1=1, IF(2=2, 1, 2), IF(3=3, 3, 4)) AS COL3,
                    IF(2=2, 1, NULL) AS COL4,
                    IF(2=2, NULL, 1) AS COL5,
                    IF(IF(TRUE, NULL, FALSE), 1, 2) AS COL6,
                    IF(TRUE, CAST(128 AS SMALLINT), CAST(1 AS TINYINT)) AS COL7,
                    IF(FALSE, 1, 1.1) AS COL8,
                    IF(FALSE, 1, 'ABC') AS COL9,
                    IF(FALSE, 'ABC', 12.3) AS COL10
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(1 AS INT) AS "COL1", '1' AS "COL2",
                     CAST(1 AS INT) AS "COL3", CAST(1 AS INT) AS "COL4",
                     CAST(NULL AS INT) AS "COL5", CAST(2 AS INT) AS "COL6",
                     CAST(128 AS SMALLINT) AS "COL7",
                     CAST(1.1 AS DOUBLE) AS "COL8", 'ABC' AS "COL9",
                     '12.3' AS "COL10"""")),

    // ---- clientpositive/udf_percentile.q: exact percentile grouped by
    //      key DIV 10, scalar and array forms (array compared through
    //      accessors); the .q's map-aggr/skew SET sweep does not change
    //      results
    QueryDef(
      "q283_qf_udf_percentile",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.map.aggr=false")
        HiveQl.sql(s, "SET hive.groupby.skewindata=false")
        HiveQl.sql(s,
          """SELECT CAST(key AS INT) DIV 10 AS g,
                    percentile(CAST(substr(value, 5) AS INT), 0.0) AS p0,
                    percentile(CAST(substr(value, 5) AS INT), 0.5) AS p50,
                    percentile(CAST(substr(value, 5) AS INT), 1.0) AS p100,
                    percentile(CAST(substr(value, 5) AS INT), array(0.0, 0.5, 0.99, 1.0))[1] AS a50,
                    round(percentile(CAST(substr(value, 5) AS INT), array(0.0, 0.5, 0.99, 1.0))[2], 4) AS a99
             FROM src
             GROUP BY CAST(key AS INT) DIV 10
             ORDER BY g""")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) // 10 AS g,
               quantile_cont(CAST(substr(value, 5) AS INT), 0.0) AS p0,
               quantile_cont(CAST(substr(value, 5) AS INT), 0.5) AS p50,
               quantile_cont(CAST(substr(value, 5) AS INT), 1.0) AS p100,
               quantile_cont(CAST(substr(value, 5) AS INT), 0.5) AS a50,
               round(quantile_cont(CAST(substr(value, 5) AS INT), 0.99), 4) AS a99
        FROM src
        GROUP BY CAST(key AS INT) // 10
        ORDER BY g""")),

    // ========== round-11 battery growth: auto_join tranche ==============
    // hive.auto.convert.join=true is Hive's common-join -> map-join
    // auto-conversion (CommonJoinResolver); Spark's analogue is the
    // autoBroadcastJoinThreshold + AQE conversion, which these fixtures
    // always qualify for — select-form queries require the broadcast in
    // the executed plan. The .q's sum(hash(...)) readback checksum is
    // replaced by the full row multiset (strictly stronger under the
    // DuckDB oracle; Hive's hash is its golden-file row checksum).

    // ---- clientpositive/auto_join0.q: ON-less join of two filtered
    //      subqueries, auto-converted — broadcast nested-loop required
    QueryDef(
      "q284_qf_auto_join0",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val df = HiveQl.sql(s,
          """SELECT src1.key as k1, src1.value as v1,
                    src2.key as k2, src2.value as v2 FROM
               (SELECT * FROM src WHERE src.key < 10) src1
                 JOIN
               (SELECT * FROM src WHERE src.key < 10) src2
             SORT BY k1, v1, k2, v2""")
        require(df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
          "auto-converted ON-less join must broadcast")
        df
      },
      Some(s"""$SrcCte, f AS (
          SELECT * FROM src WHERE TRY_CAST(key AS DOUBLE) < 10)
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM f a CROSS JOIN f b
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/auto_join1.q: equi self-join into a dest under
    //      auto-conversion
    QueryDef(
      "q285_qf_auto_join1",
      (s, dir) => {
        val d = s"dest_j1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(src1.key AS INT) AS key, src2.value
        FROM src src1 JOIN src src2 ON src1.key = src2.key
        ORDER BY 1, 2""")),

    // ---- clientpositive/auto_join4.q: nested FROM-SELECT subqueries,
    //      LEFT OUTER with overlapping range filters, 4-col dest
    QueryDef(
      "q286_qf_auto_join4",
      (s, dir) => {
        val d = s"dest1_aj4_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               LEFT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
             ) c
             INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS c1, value AS c2 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 10 AND TRY_CAST(key AS DOUBLE) < 20),
          b AS (SELECT key AS c3, value AS c4 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 15 AND TRY_CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a LEFT OUTER JOIN b ON a.c1 = b.c3
        ORDER BY c1, c2, c3 NULLS FIRST, c4 NULLS FIRST""")),

    // ---- clientpositive/auto_join5.q: the RIGHT OUTER mirror
    QueryDef(
      "q287_qf_auto_join5",
      (s, dir) => {
        val d = s"dest1_aj5_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               RIGHT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
             ) c
             INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS c1, value AS c2 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 10 AND TRY_CAST(key AS DOUBLE) < 20),
          b AS (SELECT key AS c3, value AS c4 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 15 AND TRY_CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a RIGHT OUTER JOIN b ON a.c1 = b.c3
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3, c4""")),

    // ---- clientpositive/auto_join8.q: LEFT OUTER then keep only the
    //      UNMATCHED left rows (c3 IS NULL AND c1 IS NOT NULL) — the
    //      hand-written anti-join idiom
    QueryDef(
      "q288_qf_auto_join8",
      (s, dir) => {
        val d = s"dest1_aj8_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               LEFT OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
             ) c
             INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4 where c.c3 IS NULL AND c.c1 IS NOT NULL""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS c1, value AS c2 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 10 AND TRY_CAST(key AS DOUBLE) < 20),
          b AS (SELECT key AS c3, value AS c4 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 15 AND TRY_CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(NULL AS INT) AS c3, CAST(NULL AS VARCHAR) AS c4
        FROM a LEFT OUTER JOIN b ON a.c1 = b.c3
        WHERE b.c3 IS NULL AND a.c1 IS NOT NULL
        ORDER BY c1, c2""")),

    // ---- clientpositive/auto_join14.q: src x srcpart with the partition
    //      predicate inside the ON (inner join -> prunes like WHERE)
    QueryDef(
      "q289_qf_auto_join14",
      (s, dir) => {
        val d = s"dest1_aj14_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src JOIN srcpart ON src.key = srcpart.key AND srcpart.ds = '2008-04-08' and src.key > 100
              INSERT OVERWRITE TABLE $d SELECT src.key, srcpart.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(src.key AS INT) AS c1, srcpart.value AS c2
        FROM src JOIN srcpart
        ON src.key = srcpart.key AND srcpart.ds = '2008-04-08'
           AND TRY_CAST(src.key AS DOUBLE) > 100
        ORDER BY c1, c2""")),

    // ---- clientpositive/auto_join15.q: equi self-join, full projection
    QueryDef(
      "q290_qf_auto_join15",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val df = HiveQl.sql(s,
          """SELECT src1.key as k1, src1.value as v1, src2.key as k2, src2.value as v2
             FROM src src1 JOIN src src2 ON (src1.key = src2.key)
             SORT BY k1, v1, k2, v2""")
        require(df.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "auto-converted equi join must broadcast")
        df
      },
      Some(s"""$SrcCte
        SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
               src2.value AS v2
        FROM src src1 JOIN src src2 ON src1.key = src2.key
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/auto_join20.q: inner-with-filter chained into a
    //      RIGHT OUTER whose ON references the FIRST table (merged join
    //      tree scope)
    QueryDef(
      "q291_qf_auto_join20",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT src1.key as k1, src1.value as v1, src2.key as k2,
                    src2.value as v2, src3.key as k3, src3.value as v3
             FROM src src1 JOIN src src2 ON (src1.key = src2.key AND src1.key < 10)
             RIGHT OUTER JOIN src src3 ON (src1.key = src3.key AND src3.key < 20)
             SORT BY k1, v1, k2, v2, k3, v3""")
      },
      Some(s"""$SrcCte
        SELECT j.key AS k1, j.v1, j.k2, j.v2, src3.key AS k3,
               src3.value AS v3
        FROM (SELECT src1.key, src1.value AS v1, src2.key AS k2,
                     src2.value AS v2
              FROM src src1 JOIN src src2
              ON src1.key = src2.key AND TRY_CAST(src1.key AS DOUBLE) < 10) j
        RIGHT OUTER JOIN src src3
        ON j.key = src3.key AND TRY_CAST(src3.key AS DOUBLE) < 20
        ORDER BY k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
                 v2 NULLS FIRST, k3, v3""")),

    // ---- clientpositive/auto_join21.q: join21's contradictory-ON chain
    //      under auto-conversion (same result set)
    QueryDef(
      "q292_qf_auto_join21",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2, src3.key AS k3, src3.value AS v3
             FROM src src1
             LEFT OUTER JOIN src src2
               ON (src1.key = src2.key AND src1.key < 10 AND src2.key > 10)
             RIGHT OUTER JOIN src src3
               ON (src2.key = src3.key AND src3.key < 10)
             SORT BY k1, v1, k2, v2, k3, v3""")
      },
      Some(s"""$SrcCte
        SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
               src2.value AS v2, src3.key AS k3, src3.value AS v3
        FROM src src1
        LEFT OUTER JOIN src src2
          ON (src1.key = src2.key AND CAST(src1.key AS DOUBLE) < 10
              AND CAST(src2.key AS DOUBLE) > 10)
        RIGHT OUTER JOIN src src3
          ON (src2.key = src3.key AND CAST(src3.key AS DOUBLE) < 10)
        ORDER BY k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
                 v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST""")),

    // ---- clientpositive/auto_join26.q: src1 x src aggregated into a dest
    //      ('' keys never equi-match)
    QueryDef(
      "q293_qf_auto_join26",
      (s, dir) => {
        val d = s"dest_j26_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, cnt INT)")
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT x.key, count(1) FROM src1 x JOIN src y ON (x.key = y.key) group by x.key""")
        HiveQl.sql(s, s"select * from $d x order by x.key")
      },
      Some(s"""$Src1Cte
        SELECT CAST(x.key AS INT) AS key, CAST(count(1) AS INT) AS cnt
        FROM src1 x JOIN src y ON x.key = y.key
        GROUP BY x.key ORDER BY CAST(x.key AS INT)""")),

    // ---- clientpositive/auto_join30.q: sorted subqueries feeding the
    //      auto-converted join (the sort must not break conversion)
    QueryDef(
      "q294_qf_auto_join30",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val df = HiveQl.sql(s,
          """FROM
             (SELECT src.* FROM src sort by key) x
             JOIN
             (SELECT src.* FROM src sort by value) Y
             ON (x.key = Y.key)
             select Y.key AS k, Y.value AS v""")
        require(df.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "auto-converted sorted-subquery join must broadcast")
        df.orderBy("k", "v")
      },
      Some(s"""$SrcCte
        SELECT y.key AS k, y.value AS v
        FROM src x JOIN src y ON x.key = y.key
        ORDER BY k, v""")),

    // ========== round-11 battery growth: input/nullgroup tranche ========

    // ---- clientpositive/input0.q: the corpus' first query
    QueryDef(
      "q295_qf_input0",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT src.* FROM src ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM src ORDER BY key, value""")),

    // ---- clientpositive/input4.q: the reference's OWN kv1.txt loaded
    //      TWICE (append semantics), read back column-swapped; the oracle
    //      reads the same ^A-delimited file via DuckDB's CSV reader
    QueryDef(
      "q296_qf_input4",
      (s, dir) => {
        val d = s"input4_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(KEY STRING, VALUE STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $d")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $d")
        HiveQl.sql(s, s"SELECT $d.VALUE AS value, $d.KEY AS key FROM $d ORDER BY key, value")
      },
      Some(s"""WITH kv1 AS (
          SELECT * FROM read_csv('$RefData/kv1.txt',
            delim=chr(1), header=false,
            columns={'key': 'VARCHAR', 'value': 'VARCHAR'}))
        SELECT value, key FROM (
          SELECT * FROM kv1 UNION ALL SELECT * FROM kv1) u
        ORDER BY key, value""")),

    // ---- clientpositive/input5.q: TRANSFORM over the thrift fixture's
    //      COMPLEX columns — arrays/structs serialize to the script in
    //      Hive's JSON spelling. DIVERGENCE NOTE: the all-null record's
    //      complex columns leave the script as the engine null marker and
    //      read back as SQL NULL, where Hive 0.8 JSON-serializes them as
    //      the literal text 'null' (input5.q.out last row)
    QueryDef(
      "q297_qf_input5",
      (s, dir) => {
        val d = s"dest1_i5_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM src_thrift
               SELECT TRANSFORM(src_thrift.lint, src_thrift.lintstring)
                      USING '/bin/cat' AS (tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             INSERT OVERWRITE TABLE $d SELECT tmap.tkey, tmap.tvalue""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some("""SELECT key, value FROM (VALUES
          ('[0,0,0]', '[{"myint":0,"mystring":"0","underscore_int":0}]'),
          ('[1,2,3]', '[{"myint":1,"mystring":"1","underscore_int":1}]'),
          ('[2,4,6]', '[{"myint":4,"mystring":"8","underscore_int":2}]'),
          ('[3,6,9]', '[{"myint":9,"mystring":"27","underscore_int":3}]'),
          ('[4,8,12]', '[{"myint":16,"mystring":"64","underscore_int":4}]'),
          ('[5,10,15]', '[{"myint":25,"mystring":"125","underscore_int":5}]'),
          ('[6,12,18]', '[{"myint":36,"mystring":"216","underscore_int":6}]'),
          ('[7,14,21]', '[{"myint":49,"mystring":"343","underscore_int":7}]'),
          ('[8,16,24]', '[{"myint":64,"mystring":"512","underscore_int":8}]'),
          ('[9,18,27]', '[{"myint":81,"mystring":"729","underscore_int":9}]'),
          (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))) v(key, value)
        ORDER BY key NULLS FIRST, value NULLS FIRST""")),

    // ---- clientpositive/input6.q: IS NULL over src1 — kv3's empty
    //      STRING fields are '' (never NULL), so the dest stays EMPTY
    QueryDef(
      "q298_qf_input6",
      (s, dir) => {
        val d = s"dest1_i6_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d " +
          "SELECT src1.key, src1.value WHERE src1.key is null")
        HiveQl.sql(s, s"SELECT $d.*, 1 AS one FROM $d")
      },
      Some("""SELECT '' AS key, '' AS value, 1 AS one WHERE FALSE""")),

    // ---- clientpositive/input7.q: NULL into a DOUBLE column, string
    //      keys (incl '') into INT — '' coerces to NULL
    QueryDef(
      "q299_qf_input7",
      (s, dir) => {
        val d = s"dest1_i7_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 DOUBLE, c2 INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d SELECT NULL, src1.key")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c2")
      },
      Some(s"""$Src1Cte
        SELECT CAST(NULL AS DOUBLE) AS c1, TRY_CAST(key AS INT) AS c2
        FROM src1 ORDER BY c2 NULLS FIRST""")),

    // ---- clientpositive/input18.q: TRANSFORM of FOUR exprs into the
    //      default (key, value) pair — Hive's last column absorbs the
    //      remainder WITH its tabs ('val_x\t3\t7'), proven here through
    //      the graft.transform.absorbRemainder parity rewrite
    QueryDef(
      "q300_qf_input18",
      (s, dir) => {
        val d = s"dest1_i18_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, "SET graft.transform.absorbRemainder=true")
        try
          HiveQl.sql(s,
            s"""FROM (
                 FROM src
                 SELECT TRANSFORM(src.key, src.value, 1+2, 3+4)
                        USING '/bin/cat'
                 CLUSTER BY key
               ) tmap
               INSERT OVERWRITE TABLE $d SELECT tmap.key, regexp_replace(tmap.value,'\t','+') WHERE tmap.key < 100""")
        finally s.conf.unset("graft.transform.absorbRemainder")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(key AS INT) AS key, value || '+3+7' AS value
        FROM src WHERE CAST(key AS DOUBLE) < 100
        ORDER BY key, value""")),

    // ---- clientpositive/input24.q: count over an added-but-empty
    //      partition
    QueryDef(
      "q301_qf_input24",
      (s, dir) => {
        val t = s"tst_i24_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(a int, b int) partitioned by (d string)")
        HiveQl.sql(s, s"alter table $t add partition (d='2009-01-01')")
        HiveQl.sql(s, s"select count(1) AS cnt from $t x where x.d='2009-01-01'")
      },
      Some("SELECT CAST(0 AS BIGINT) AS cnt")),

    // ---- clientpositive/input3_limit.q: kv1+kv2 loads, LIMIT 20 after a
    //      non-total DISTRIBUTE/SORT BY — facts oracle (count + strict
    //      membership), the input1_limit pattern
    QueryDef(
      "q302_qf_input3_limit",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"t1_i3l_$sfx", s"t2_i3l_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv2.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"CREATE TABLE $t2(key STRING, value STRING)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT * FROM " +
          s"(SELECT * FROM $t1 DISTRIBUTE BY key SORT BY key, value) T LIMIT 20")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(*) FROM $t2) AS n,
                     (SELECT count(*) FROM $t2 a LEFT ANTI JOIN $t1 b
                      ON a.key = b.key AND a.value = b.value) AS bad""")
      },
      Some("SELECT CAST(20 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad")),

    // ---- clientpositive/nullgroup2.q: GROUP BY over an empty filter
    //      under all four map-aggr x skew combos -> zero GROUPS each
    QueryDef(
      "q303_qf_nullgroup2",
      (s, dir) => {
        fixtures(s, dir)
        val counts = for {
          aggr <- Seq("true", "false"); skew <- Seq("true", "false")
        } yield {
          HiveQl.sql(s, s"SET hive.map.aggr=$aggr")
          HiveQl.sql(s, s"SET hive.groupby.skewindata=$skew")
          HiveQl.sql(s,
            "select x.key, count(1) from src x where x.key > 9999 group by x.key")
            .count()
        }
        import s.implicits._
        Seq((counts(0), counts(1), counts(2), counts(3)))
          .toDF("n1", "n2", "n3", "n4")
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2,
                     CAST(0 AS BIGINT) AS n3, CAST(0 AS BIGINT) AS n4""")),

    // ---- clientpositive/nullgroup3.q: a kv1 partition plus an
    //      EMPTY-FILE partition count 500; two empty-file partitions
    //      count 0 (empty files are rows-none, not errors)
    QueryDef(
      "q304_qf_nullgroup3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"tstparttbl_$sfx", s"tstparttbl2_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(KEY STRING, VALUE STRING) PARTITIONED BY(ds string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t1 PARTITION (ds='2008-04-09')")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/nullfile.txt' INTO TABLE $t1 PARTITION (ds='2008-04-08')")
        HiveQl.sql(s, s"CREATE TABLE $t2(KEY STRING, VALUE STRING) PARTITIONED BY(ds string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/nullfile.txt' INTO TABLE $t2 PARTITION (ds='2008-04-09')")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/nullfile.txt' INTO TABLE $t2 PARTITION (ds='2008-04-08')")
        HiveQl.sql(s,
          s"""SELECT (select count(1) from $t1) AS n1,
                     (select count(1) from $t2) AS n2""")
      },
      Some("SELECT CAST(500 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2")),

    // ---- clientpositive/nullgroup4.q: GLOBAL aggregate over an empty
    //      filter stays ONE row (0, 0) — not zero rows — under all four
    //      SET combos
    QueryDef(
      "q305_qf_nullgroup4",
      (s, dir) => {
        fixtures(s, dir)
        var last: DataFrame = null
        for (aggr <- Seq("true", "false"); skew <- Seq("true", "false")) {
          HiveQl.sql(s, s"SET hive.map.aggr=$aggr")
          HiveQl.sql(s, s"SET hive.groupby.skewindata=$skew")
          last = HiveQl.sql(s,
            """select count(1) AS c1, count(distinct x.value) AS c2
               from src x where x.key = 9999""")
          require(last.count() == 1, "empty global aggregate must emit 1 row")
        }
        last
      },
      Some("SELECT CAST(0 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2")),

    // ---- clientpositive/nullgroup5.q: union of a nonexistent-partition
    //      filter with a loaded partition — all kv1 rows survive
    QueryDef(
      "q306_qf_nullgroup5",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"ng5_a_$sfx", s"ng5_b_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(KEY STRING, VALUE STRING) PARTITIONED BY(ds string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t1 PARTITION (ds='2009-04-09')")
        HiveQl.sql(s, s"CREATE TABLE $t2(KEY STRING, VALUE STRING) PARTITIONED BY(ds string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t2 PARTITION (ds='2009-04-09')")
        HiveQl.sql(s,
          s"""select u.* from
              (
                select key, value from $t1 x where x.ds='2009-04-05'
                  union all
                select key, value from $t2 y where y.ds='2009-04-09'
              )u ORDER BY key, value""")
      },
      Some(s"""WITH kv1 AS (
          SELECT * FROM read_csv('$RefData/kv1.txt',
            delim=chr(1), header=false,
            columns={'key': 'VARCHAR', 'value': 'VARCHAR'}))
        SELECT key, value FROM kv1 ORDER BY key, value""")),

    // ---- clientpositive/groupby1_limit.q: grouped insert with LIMIT 5
    //      and no total order — facts oracle: five rows, each matching the
    //      full aggregate exactly
    QueryDef(
      "q307_qf_groupby1_limit",
      (s, dir) => {
        val d = s"dest1_g1l_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET mapred.reduce.tasks=31")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT src.key, sum(substr(src.value,5)) GROUP BY src.key LIMIT 5")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(*) FROM $d) AS n,
                     (SELECT count(*) FROM $d a LEFT ANTI JOIN
                        (SELECT CAST(src.key AS INT) AS key,
                                sum(CAST(substr(src.value, 5) AS DOUBLE)) AS value
                         FROM src GROUP BY src.key) g
                      ON a.key = g.key AND round(a.value, 6) = round(g.value, 6)) AS bad""")
      },
      Some("SELECT CAST(5 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad")),

    // ========== round-11 battery growth: mixed tranche F ================

    // ---- clientpositive/join_reorder.q: STREAMTABLE hints (result
    //      no-ops), arithmetic join keys (c.key+1 = a.key coerces through
    //      DOUBLE), LOJ/ROJ chain on mixed key/val conditions, and the
    //      composite-key UNIQUEJOIN PRESERVE section
    QueryDef(
      "q308_qf_join_reorder",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3) = (s"t1_jr_$sfx", s"t2_jr_$sfx", s"t3_jr_$sfx")
        fresh(s, t1, t2, t3)
        for ((t, f) <- Seq(t1 -> "T1.txt", t2 -> "T2.txt", t3 -> "T3.txt")) {
          HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/$f' INTO TABLE $t")
        }
        val parts = Seq(
          s"SELECT 1 AS jt, a.key AS c1, a.val AS c2, c.key AS c3, CAST(NULL AS STRING) AS c4 FROM $t1 a JOIN src c ON c.key+1=a.key",
          s"SELECT /*+ STREAMTABLE(a) */ 2 AS jt, a.key AS c1, a.val AS c2, c.key AS c3, CAST(NULL AS STRING) AS c4 FROM $t1 a JOIN src c ON c.key+1=a.key",
          s"SELECT 3 AS jt, a.key AS c1, b.key AS c2, a.val AS c3, c.val AS c4 FROM $t1 a LEFT OUTER JOIN $t2 b ON (b.key=a.key) RIGHT OUTER JOIN $t3 c ON (c.val = a.val)",
          s"SELECT /*+ STREAMTABLE(a) */ 4 AS jt, a.key AS c1, b.key AS c2, a.val AS c3, c.val AS c4 FROM $t1 a LEFT OUTER JOIN $t2 b ON (b.key=a.key) RIGHT OUTER JOIN $t3 c ON (c.val = a.val)",
          s"SELECT 5 AS jt, a.key AS c1, b.key AS c2, c.key AS c3, CAST(NULL AS STRING) AS c4 FROM UNIQUEJOIN PRESERVE $t1 a (a.key, a.val), PRESERVE $t2 b (b.key, b.val), PRESERVE $t3 c (c.key, c.val)")
        HiveQl.sql(s, parts.mkString("\nUNION ALL\n") +
          "\nORDER BY jt, c1, c2, c3, c4")
      },
      Some {
        s"""$SrcCte,
            t1(key, val) AS (VALUES ('1','11'),('2','12'),('3','13'),
              ('7','17'),('8','18'),('8','28')),
            t2(key, val) AS (VALUES ('2','22'),('3','13'),('4','14'),
              ('5','15'),('8','18'),('8','18')),
            t3(key, val) AS (VALUES ('2','12'),('4','14'),('6','16'),
              ('7','17'))
          SELECT jt, c1, c2, c3, c4 FROM (
            SELECT 1 AS jt, a.key AS c1, a.val AS c2, c.key AS c3,
                   CAST(NULL AS VARCHAR) AS c4
            FROM t1 a JOIN src c ON TRY_CAST(c.key AS DOUBLE)+1 = TRY_CAST(a.key AS DOUBLE)
            UNION ALL
            SELECT 2, a.key, a.val, c.key, CAST(NULL AS VARCHAR)
            FROM t1 a JOIN src c ON TRY_CAST(c.key AS DOUBLE)+1 = TRY_CAST(a.key AS DOUBLE)
            UNION ALL
            SELECT 3, a.key, b.key, a.val, c.val
            FROM t1 a LEFT OUTER JOIN t2 b ON (b.key = a.key)
            RIGHT OUTER JOIN t3 c ON (c.val = a.val)
            UNION ALL
            SELECT 4, a.key, b.key, a.val, c.val
            FROM t1 a LEFT OUTER JOIN t2 b ON (b.key = a.key)
            RIGHT OUTER JOIN t3 c ON (c.val = a.val)
            UNION ALL
            SELECT 5, a.key, b.key, c.key, CAST(NULL AS VARCHAR)
            FROM t1 a
            FULL OUTER JOIN t2 b ON a.key = b.key AND a.val = b.val
            FULL OUTER JOIN t3 c ON COALESCE(a.key, b.key) = c.key
                                AND COALESCE(a.val, b.val) = c.val) u
          ORDER BY jt, c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
                   c4 NULLS FIRST"""
      }),

    // ---- clientpositive/join_map_ppr.q: two-table MAPJOIN(x,y) hint on a
    //      3-way join with partition-pruned srcpart
    QueryDef(
      "q309_qf_join_map_ppr",
      (s, dir) => {
        val d = s"dest_jmp_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x,y) */ x.key, z.value, y.value
              FROM src1 x JOIN src y ON (x.key = y.key)
              JOIN srcpart z ON (x.key = z.key)
              WHERE z.ds='2008-04-08' and z.hr=11""")
        HiveQl.sql(s, s"select * from $d x order by x.key, x.value, x.val2")
      },
      Some(s"""$SrcPartCte, s1 AS (
          SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                      ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS key,
                 CASE WHEN n_nationkey % 3 = 0 THEN ''
                      ELSE 'val_' || CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS value
          FROM nation)
        SELECT x.key, z.value, y.value AS val2
        FROM s1 x JOIN src y ON x.key = y.key
        JOIN srcpart z ON x.key = z.key
        WHERE z.ds = '2008-04-08' AND TRY_CAST(z.hr AS DOUBLE) = 11
        ORDER BY 1, 2, 3""")),

    // ---- clientpositive/udf_explode.q: array and map explode, both AS
    //      spellings, LIMIT over the generator, re-aggregation
    QueryDef(
      "q310_qf_udf_explode",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT 1 AS jt, CAST(a.myCol AS STRING) AS c1, CAST(NULL AS STRING) AS c2, CAST(NULL AS BIGINT) AS cnt
             FROM (SELECT explode(array(1,2,3)) AS myCol FROM src LIMIT 3) a
             UNION ALL
             SELECT 2, CAST(a.myCol AS STRING), CAST(NULL AS STRING), count(1)
             FROM (SELECT explode(array(1,2,3)) AS myCol FROM src LIMIT 3) a GROUP BY a.myCol
             UNION ALL
             SELECT 3, CAST(a.key AS STRING), a.val, CAST(NULL AS BIGINT)
             FROM (SELECT explode(map(1,'one',2,'two',3,'three')) AS (key,val) FROM src LIMIT 3) a
             UNION ALL
             SELECT 4, CAST(a.key AS STRING), a.val, count(1)
             FROM (SELECT explode(map(1,'one',2,'two',3,'three')) AS (key,val) FROM src LIMIT 3) a GROUP BY a.key, a.val
             ORDER BY jt, c1, c2, cnt""")
      },
      Some("""SELECT jt, c1, c2, CAST(cnt AS BIGINT) AS cnt FROM (VALUES
          (1, '1', CAST(NULL AS VARCHAR), CAST(NULL AS INT)),
          (1, '2', NULL, NULL), (1, '3', NULL, NULL),
          (2, '1', NULL, 1), (2, '2', NULL, 1), (2, '3', NULL, 1),
          (3, '1', 'one', NULL), (3, '2', 'two', NULL),
          (3, '3', 'three', NULL),
          (4, '1', 'one', 1), (4, '2', 'two', 1), (4, '3', 'three', 1))
          v(jt, c1, c2, cnt)
        ORDER BY jt, c1, c2 NULLS FIRST, cnt""")),

    // ---- clientpositive/union_script.q: TRANSFORM branches unioned
    QueryDef(
      "q311_qf_union_script",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select * from (
               select transform(key) using 'cat' as cola from src
               union all
               select transform(key) using 'cat' as cola from src) s order by cola""")
      },
      Some(s"""$SrcCte
        SELECT cola FROM (
          SELECT key AS cola FROM src
          UNION ALL SELECT key FROM src) u
        ORDER BY cola""")),

    // ---- clientpositive/groupby_map_ppr.q: partition-pruned aggregate
    //      with COUNT(DISTINCT) and a concat over sum, map-side aggr SETs
    QueryDef(
      "q312_qf_groupby_map_ppr",
      (s, dir) => {
        val d = s"dest1_gmp_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.map.aggr=true")
        HiveQl.sql(s, "SET hive.groupby.skewindata=false")
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src
              INSERT OVERWRITE TABLE $d
              SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), concat(substr(src.key,1,1),sum(substr(src.value,5)))
              WHERE src.ds = '2008-04-08'
              GROUP BY substr(src.key,1,1)""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcPartCte
        SELECT substr(key, 1, 1) AS key,
               CAST(count(DISTINCT substr(value, 5)) AS INT) AS c1,
               substr(key, 1, 1) ||
                 CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS VARCHAR) AS c2
        FROM srcpart WHERE ds = '2008-04-08'
        GROUP BY substr(key, 1, 1)
        ORDER BY key""")),

    // ---- clientpositive/join9.q: srcpart x src with the partition filter
    //      in the WHERE of the insert branch
    QueryDef(
      "q313_qf_join9",
      (s, dir) => {
        val d = s"dest1_j9_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value where src1.ds = '2008-04-08' and src1.hr = '12'""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(src1.key AS INT) AS key, src2.value
        FROM srcpart src1 JOIN src src2 ON src1.key = src2.key
        WHERE src1.ds = '2008-04-08' AND src1.hr = '12'
        ORDER BY 1, 2""")),

    // ---- clientpositive/join10.q: Y.* star expansion through the join
    QueryDef(
      "q314_qf_join10",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM
             (SELECT src.* FROM src) x
             JOIN
             (SELECT src.* FROM src) Y
             ON (x.key = Y.key)
             SELECT Y.key AS k, Y.value AS v
             ORDER BY k, v""")
      },
      Some(s"""$SrcCte
        SELECT y.key AS k, y.value AS v
        FROM src x JOIN src y ON x.key = y.key
        ORDER BY k, v""")),

    // ---- clientpositive/join11.q: numeric residual INSIDE the ON over
    //      string keys
    QueryDef(
      "q315_qf_join11",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100
             ORDER BY c1, c4""")
      },
      Some(s"""$SrcCte
        SELECT src1.c1, src2.c4
        FROM (SELECT key AS c1, value AS c2 FROM src) src1
        JOIN (SELECT key AS c3, value AS c4 FROM src) src2
        ON src1.c1 = src2.c3 AND TRY_CAST(src1.c1 AS DOUBLE) < 100
        ORDER BY c1, c4""")),

    // ---- clientpositive/join3.q: 3-way self equi-join into a dest
    QueryDef(
      "q316_qf_join3",
      (s, dir) => {
        val d = s"dest1_j3_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key) JOIN src src3 ON (src1.key = src3.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src3.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(src1.key AS INT) AS key, src3.value
        FROM src src1 JOIN src src2 ON src1.key = src2.key
        JOIN src src3 ON src1.key = src3.key
        ORDER BY 1, 2""")),

    // ========== round-11 battery growth: time/length/sample tranche =====

    // ---- clientpositive/udf_hour.q: Hive regex-extracts from the STRING
    //      form — bare 'HH:mm:ss' works, date-only is NULL (key 86 -> 100
    //      as q265)
    QueryDef(
      "q345_qf_udf_hour",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT hour('2009-08-07 13:14:15') AS c1, hour('13:14:15') AS c2,
                    hour('2009-08-07') AS c3
             FROM src WHERE key = 100""")
      },
      Some(s"""$SrcCte
        SELECT CAST(13 AS INT) AS c1, CAST(13 AS INT) AS c2,
               CAST(NULL AS INT) AS c3
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_minute.q
    QueryDef(
      "q346_qf_udf_minute",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT minute('2009-08-07 13:14:15') AS c1, minute('13:14:15') AS c2,
                    minute('2009-08-07') AS c3
             FROM src WHERE key = 100""")
      },
      Some(s"""$SrcCte
        SELECT CAST(14 AS INT) AS c1, CAST(14 AS INT) AS c2,
               CAST(NULL AS INT) AS c3
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_second.q
    QueryDef(
      "q347_qf_udf_second",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT second('2009-08-07 13:14:15') AS c1, second('13:14:15') AS c2,
                    second('2009-08-07') AS c3
             FROM src WHERE key = 100""")
      },
      Some(s"""$SrcCte
        SELECT CAST(15 AS INT) AS c1, CAST(15 AS INT) AS c2,
               CAST(NULL AS INT) AS c3
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_weekofyear.q: ISO week numbers incl. the
    //      year-boundary cases (golden-paired)
    QueryDef(
      "q348_qf_udf_weekofyear",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT weekofyear('1980-01-01') AS c1, weekofyear('1980-01-06') AS c2,
                    weekofyear('1980-01-07') AS c3, weekofyear('1980-12-31') AS c4,
                    weekofyear('1984-1-1') AS c5, weekofyear('2008-02-20 00:00:00') AS c6,
                    weekofyear('1980-12-28 23:59:59') AS c7, weekofyear('1980-12-29 23:59:59') AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(1 AS INT) AS c1, CAST(1 AS INT) AS c2,
                     CAST(2 AS INT) AS c3, CAST(1 AS INT) AS c4,
                     CAST(52 AS INT) AS c5, CAST(8 AS INT) AS c6,
                     CAST(52 AS INT) AS c7, CAST(1 AS INT) AS c8""")),

    // ---- clientpositive/udf_unix_timestamp.q: default format, explicit
    //      patterns, unparseable -> NULL. The reference harness ran in
    //      PST so its absolute goldens shift; both engines here evaluate
    //      in the session's UTC
    QueryDef(
      "q349_qf_udf_unix_timestamp",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT unix_timestamp('2009-03-20 11:30:01') AS c1,
                    unix_timestamp('2009-03-20', 'yyyy-MM-dd') AS c2,
                    unix_timestamp('2009 Mar 20 11:30:01 am', 'yyyy MMM dd h:mm:ss a') AS c3,
                    unix_timestamp('random_string') AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(epoch(TIMESTAMP '2009-03-20 11:30:01') AS BIGINT) AS c1,
                     CAST(epoch(TIMESTAMP '2009-03-20 00:00:00') AS BIGINT) AS c2,
                     CAST(epoch(strptime('2009 Mar 20 11:30:01 am', '%Y %b %d %I:%M:%S %p')) AS BIGINT) AS c3,
                     CAST(NULL AS BIGINT) AS c4""")),

    // ---- clientpositive/udf_length.q: char (not byte) lengths over the
    //      ''-bearing src1, then over the non-ASCII kv4.txt fixture
    QueryDef(
      "q350_qf_udf_length",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest1_len_$sfx", s"dest2_len_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, s"CREATE TABLE $d1(len INT)")
        HiveQl.sql(s, s"FROM src1 INSERT OVERWRITE TABLE $d1 SELECT length(src1.value)")
        HiveQl.sql(s, s"CREATE TABLE $d2(name STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv4.txt' INTO TABLE $d2")
        HiveQl.sql(s,
          s"""SELECT 'a' AS tag, len FROM $d1
              UNION ALL SELECT 'b', length($d2.name) FROM $d2
              ORDER BY tag, len""")
      },
      Some(s"""$Src1Cte
        SELECT tag, CAST(len AS INT) AS len FROM (
          SELECT 'a' AS tag, length(value) AS len FROM src1
          UNION ALL
          SELECT 'b', length(name) FROM read_csv(
            '$RefData/kv4.txt', delim=chr(1),
            header=false, columns={'name': 'VARCHAR'})) u
        ORDER BY tag, len""")),

    // ---- clientpositive/sample1.q: BUCKET 1 OUT OF 1 ON rand() — the
    //      degenerate full sample over a pruned srcpart partition
    QueryDef(
      "q351_qf_sample1",
      (s, dir) => {
        val d = s"dest1_s1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, dt STRING, hr STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d SELECT s.*
              FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1 ON rand()) s
              WHERE s.ds='2008-04-08' and s.hr='11'""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(key AS INT) AS key, value, ds AS dt, hr
        FROM srcpart WHERE ds = '2008-04-08' AND hr = '11'
        ORDER BY key, value""")),

    // ---- clientpositive/sample4.q: bucket-file sampling over the
    //      reference's own 2-bucket srcbucket fixtures — BUCKET 1 OUT OF 2
    //      ON key keeps rows with (hash & MAX_INT) % 2 = 0
    QueryDef(
      "q352_qf_sample4",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, d) = (s"srcbucket_$sfx", s"dest1_s4_$sfx")
        fresh(s, t, d)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket0.txt' INTO TABLE $t")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM $t TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""WITH sb AS (
          SELECT * FROM read_csv('$RefData/srcbucket0.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'})
          UNION ALL
          SELECT * FROM read_csv('$RefData/srcbucket1.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'}))
        SELECT key, value FROM sb WHERE key % 2 = 0
        ORDER BY key, value""")),

    // ---- clientpositive/sample6.q: BUCKET 1 OUT OF 4 over the 2-bucket
    //      table (denominator > bucket count -> in-bucket filter)
    QueryDef(
      "q353_qf_sample6",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, d) = (s"srcbucket6_$sfx", s"dest1_s6_$sfx")
        fresh(s, t, d)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket0.txt' INTO TABLE $t")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM $t TABLESAMPLE (BUCKET 1 OUT OF 4 on key) s")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""WITH sb AS (
          SELECT * FROM read_csv('$RefData/srcbucket0.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'})
          UNION ALL
          SELECT * FROM read_csv('$RefData/srcbucket1.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'}))
        SELECT key, value FROM sb WHERE key % 4 = 0
        ORDER BY key, value""")),

    // ---- clientpositive/sample7.q: sampled scan with a residual filter
    QueryDef(
      "q354_qf_sample7",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, d) = (s"srcbucket7_$sfx", s"dest1_s7_$sfx")
        fresh(s, t, d)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket0.txt' INTO TABLE $t")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM $t TABLESAMPLE (BUCKET 1 OUT OF 4 on key) s WHERE s.key > 100")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""WITH sb AS (
          SELECT * FROM read_csv('$RefData/srcbucket0.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'})
          UNION ALL
          SELECT * FROM read_csv('$RefData/srcbucket1.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'}))
        SELECT key, value FROM sb WHERE key % 4 = 0 AND key > 100
        ORDER BY key, value""")),

    // ========== round-11 battery growth: serde/order/case tranche =======

    // ---- clientpositive/udf_case_thrift.q: CASE over complex accessors,
    //      a branch returning a whole array then indexed
    QueryDef(
      "q355_qf_udf_case_thrift",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CASE src_thrift.lint[0]
                     WHEN 0 THEN src_thrift.lint[0] + 1
                     WHEN 1 THEN src_thrift.lint[0] + 2
                     WHEN 2 THEN 100
                     ELSE 5
                    END AS c1,
                    CASE src_thrift.lstring[0]
                     WHEN '0' THEN 'zero'
                     WHEN '10' THEN CONCAT(src_thrift.lstring[0], " is ten")
                     ELSE 'default'
                    END AS c2,
                    (CASE src_thrift.lstring[0]
                     WHEN '0' THEN src_thrift.lstring
                     ELSE NULL
                    END)[0] AS c3
             FROM src_thrift LIMIT 3""")
      },
      Some("""SELECT c1, c2, c3 FROM (VALUES
          (1, 'zero', '0'), (3, '10 is ten', CAST(NULL AS VARCHAR)),
          (100, 'default', CAST(NULL AS VARCHAR))) v(c1, c2, c3)""")),

    // ---- clientpositive/udf_case_column_pruning.q: CASE key over a
    //      self-join, ordered LIMIT (tie rows identical)
    QueryDef(
      "q356_qf_udf_case_col_prune",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CASE a.key
                     WHEN '1' THEN 2
                     WHEN '3' THEN 4
                     ELSE 5
                    END as key
             FROM src a JOIN src b
             ON a.key = b.key
             ORDER BY key LIMIT 10""")
      },
      Some(s"""$SrcCte
        SELECT CASE a.key WHEN '1' THEN 2 WHEN '3' THEN 4 ELSE 5 END AS key
        FROM src a JOIN src b ON a.key = b.key
        ORDER BY key LIMIT 10""")),

    // ---- clientpositive/groupby10.q: count/count-distinct AND
    //      sum/sum-distinct pairs into two dests off kv5.txt, run under
    //      both hive.multigroupby.singlemr settings
    QueryDef(
      "q357_qf_groupby10",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2, inp) = (s"dest1_g10_$sfx", s"dest2_g10_$sfx", s"input_g10_$sfx")
        fresh(s, d1, d2, inp)
        HiveQl.sql(s, "SET hive.map.aggr=false")
        HiveQl.sql(s, "SET hive.groupby.skewindata=true")
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, val1 INT, val2 INT)")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, val1 INT, val2 INT)")
        HiveQl.sql(s, s"CREATE TABLE $inp(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv5.txt' INTO TABLE $inp")
        val stmt =
          s"""FROM $inp
              INSERT OVERWRITE TABLE $d1 SELECT $inp.key, count(substr($inp.value,5)), count(distinct substr($inp.value,5)) GROUP BY $inp.key
              INSERT OVERWRITE TABLE $d2 SELECT $inp.key, sum(substr($inp.value,5)), sum(distinct substr($inp.value,5))   GROUP BY $inp.key"""
        HiveQl.sql(s, stmt)
        HiveQl.sql(s, "SET hive.multigroupby.singlemr=true")
        HiveQl.sql(s, stmt)
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, val1, val2 FROM $d1
              UNION ALL SELECT 'd2', key, val1, val2 FROM $d2
              ORDER BY tag, key""")
      },
      Some(s"""WITH kv5 AS (
          SELECT * FROM read_csv('$RefData/kv5.txt',
            delim=chr(1), header=false,
            columns={'key': 'INT', 'value': 'VARCHAR'}))
        SELECT tag, key, CAST(val1 AS INT) AS val1, CAST(val2 AS INT) AS val2
        FROM (
          SELECT 'd1' AS tag, key, count(substr(value, 5)) AS val1,
                 count(DISTINCT substr(value, 5)) AS val2
          FROM kv5 GROUP BY key
          UNION ALL
          SELECT 'd2', key, sum(CAST(substr(value, 5) AS DOUBLE)),
                 sum(DISTINCT CAST(substr(value, 5) AS DOUBLE))
          FROM kv5 GROUP BY key) u
        ORDER BY tag, key""")),

    // ---- clientpositive/groupby11.q: count/count-distinct into two
    //      PARTITIONED dests grouped by value and by substr(value)
    QueryDef(
      "q358_qf_groupby11",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2) = (s"dest1_g11_$sfx", s"dest2_g11_$sfx")
        fresh(s, d1, d2)
        HiveQl.sql(s, "SET hive.map.aggr=false")
        HiveQl.sql(s, "SET hive.groupby.skewindata=true")
        HiveQl.sql(s, s"CREATE TABLE $d1(key STRING, val1 INT, val2 INT) partitioned by (ds string)")
        HiveQl.sql(s, s"CREATE TABLE $d2(key STRING, val1 INT, val2 INT) partitioned by (ds string)")
        HiveQl.sql(s,
          s"""FROM src
              INSERT OVERWRITE TABLE $d1 partition(ds='111')
                SELECT src.value, count(src.key), count(distinct src.key) GROUP BY src.value
              INSERT OVERWRITE TABLE $d2  partition(ds='111')
                SELECT substr(src.value, 5), count(src.key), count(distinct src.key) GROUP BY substr(src.value, 5)""")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, key, val1, val2, ds FROM $d1
              UNION ALL SELECT 'd2', key, val1, val2, ds FROM $d2
              ORDER BY tag, key""")
      },
      Some(s"""$SrcCte
        SELECT tag, key, CAST(val1 AS INT) AS val1, CAST(val2 AS INT) AS val2,
               '111' AS ds
        FROM (
          SELECT 'd1' AS tag, value AS key, count(key) AS val1,
                 count(DISTINCT key) AS val2
          FROM src GROUP BY value
          UNION ALL
          SELECT 'd2', substr(value, 5), count(key), count(DISTINCT key)
          FROM src GROUP BY substr(value, 5)) u
        ORDER BY tag, key""")),

    // ---- clientpositive/union12.q: three aggregate branches over THREE
    //      different tables — src, src1, and the 2-bucket srcbucket
    QueryDef(
      "q359_qf_union12",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d, sb) = (s"tmptable_u12_$sfx", s"srcbucket_u12_$sfx")
        fresh(s, d, sb)
        HiveQl.sql(s, "SET hive.map.aggr=true")
        HiveQl.sql(s, s"CREATE TABLE $sb(key int, value string) CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket0.txt' INTO TABLE $sb")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/srcbucket1.txt' INTO TABLE $sb")
        HiveQl.sql(s, s"create table $d(key string, value int)")
        HiveQl.sql(s,
          s"""insert overwrite table $d
              select unionsrc.key, unionsrc.value FROM (select 'tst1' as key, count(1) as value from src s1
                                                    UNION  ALL
                                                        select 'tst2' as key, count(1) as value from src1 s2
                                                    UNION ALL
                                                        select 'tst3' as key, count(1) as value from $sb s3) unionsrc""")
        HiveQl.sql(s, s"select * from $d x sort by x.key")
      },
      Some(s"""$SrcCte
        SELECT key, CAST(value AS INT) AS value FROM (
          SELECT 'tst1' AS key, count(1) AS value FROM src
          UNION ALL SELECT 'tst2', 25
          UNION ALL SELECT 'tst3', 1000) u
        ORDER BY key""")),

    // ---- clientpositive/input_dynamicserde.q: DELIMITED table whose
    //      delimiters are NUMERIC BYTE CODES ('1'/'2'/'3'/'10' =
    //      \x01/\x02/\x03/\n — LazySimpleSerDe's getByte), complex
    //      columns round-tripped and read back through accessors
    QueryDef(
      "q360_qf_input_dynamicserde",
      (s, dir) => {
        val d = s"dest1_dyn_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s,
          s"""CREATE TABLE $d(a array<int>, b array<string>, c map<string,string>, d int, e string)
              ROW FORMAT DELIMITED
              FIELDS TERMINATED BY '1'
              COLLECTION ITEMS TERMINATED BY '2'
              MAP KEYS TERMINATED BY '3'
              LINES TERMINATED BY '10'
              STORED AS TEXTFILE""")
        HiveQl.sql(s,
          s"""FROM src_thrift
              INSERT OVERWRITE TABLE $d SELECT src_thrift.lint, src_thrift.lstring, src_thrift.mstringstring, src_thrift.aint, src_thrift.astring""")
        HiveQl.sql(s,
          s"SELECT $d.a[0] AS a0, $d.b[0] AS b0, $d.c['key2'] AS c2, " +
            s"$d.d AS d, $d.e AS e FROM $d ORDER BY d, e")
      },
      Some("""SELECT a0, b0, CAST(NULL AS VARCHAR) AS c2, d, e FROM (VALUES
          (0, '0', 1712634731, 'record_0'), (1, '10', 465985200, 'record_1'),
          (2, '20', -751827638, 'record_2'), (3, '30', 477111222, 'record_3'),
          (4, '40', -734328909, 'record_4'), (5, '50', -1952710710, 'record_5'),
          (6, '60', 1244525190, 'record_6'), (7, '70', -1461153973, 'record_7'),
          (8, '80', 1638581578, 'record_8'), (9, '90', 336964413, 'record_9'),
          (CAST(NULL AS INT), CAST(NULL AS VARCHAR), 0, CAST(NULL AS VARCHAR)))
          v(a0, b0, d, e)
        ORDER BY d, e NULLS FIRST""")),

    // ---- clientpositive/input_lazyserde.q: same layout plus the
    //      single-complex-column ESCAPED BY tables (array and map forms)
    QueryDef(
      "q361_qf_input_lazyserde",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2, d3) = (s"dest1_lazy_$sfx", s"dest2_lazy_$sfx", s"dest3_lazy_$sfx")
        fresh(s, d1, d2, d3)
        HiveQl.sql(s,
          s"""CREATE TABLE $d1(a array<int>, b array<string>, c map<string,string>, d int, e string)
              ROW FORMAT DELIMITED
              FIELDS TERMINATED BY '1'
              COLLECTION ITEMS TERMINATED BY '2'
              MAP KEYS TERMINATED BY '3'
              LINES TERMINATED BY '10'
              STORED AS TEXTFILE""")
        HiveQl.sql(s, s"FROM src_thrift INSERT OVERWRITE TABLE $d1 " +
          "SELECT src_thrift.lint, src_thrift.lstring, src_thrift.mstringstring, src_thrift.aint, src_thrift.astring DISTRIBUTE BY 1")
        HiveQl.sql(s, s"CREATE TABLE $d2(a array<int>) ROW FORMAT DELIMITED FIELDS TERMINATED BY '1' ESCAPED BY '\\\\'")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d2 SELECT src_thrift.lint FROM src_thrift DISTRIBUTE BY 1")
        HiveQl.sql(s, s"CREATE TABLE $d3(a map<string,string>) ROW FORMAT DELIMITED FIELDS TERMINATED BY '1' ESCAPED BY '\\\\'")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d3 SELECT src_thrift.mstringstring FROM src_thrift DISTRIBUTE BY 1")
        HiveQl.sql(s,
          s"""SELECT 'd1' AS tag, CAST($d1.a[0] AS STRING) AS v1, $d1.b[0] AS v2, $d1.e AS v3 FROM $d1
              UNION ALL
              SELECT 'd2', CAST(a[0] AS STRING), CAST(a[2] AS STRING), CAST(NULL AS STRING) FROM $d2 WHERE a IS NOT NULL
              UNION ALL
              SELECT 'd3', a['key_2'], CAST(NULL AS STRING), CAST(NULL AS STRING) FROM $d3 WHERE a IS NOT NULL
              ORDER BY tag, v1, v2, v3""")
      },
      Some("""SELECT tag, v1, v2, v3 FROM (
          SELECT 'd1' AS tag, CAST(a0 AS VARCHAR) AS v1, b0 AS v2, e AS v3
          FROM (VALUES
            (0, '0', 'record_0'), (1, '10', 'record_1'), (2, '20', 'record_2'),
            (3, '30', 'record_3'), (4, '40', 'record_4'), (5, '50', 'record_5'),
            (6, '60', 'record_6'), (7, '70', 'record_7'), (8, '80', 'record_8'),
            (9, '90', 'record_9'),
            (CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)))
            a(a0, b0, e)
          UNION ALL
          SELECT 'd2', CAST(i AS VARCHAR), CAST(3 * i AS VARCHAR),
                 CAST(NULL AS VARCHAR)
          FROM range(10) t(i)
          UNION ALL
          SELECT 'd3', CASE WHEN i = 2 THEN 'value_2' END,
                 CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
          FROM range(10) t(i)) u
        ORDER BY tag, v1 NULLS FIRST, v2 NULLS FIRST, v3 NULLS FIRST""")),

    // ---- clientpositive/order.q: ordered LIMIT both directions (tie
    //      rows identical under the string sort)
    QueryDef(
      "q362_qf_order",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT u.key, u.value FROM (
               SELECT x.key, x.value, 1 AS d FROM SRC x ORDER BY key limit 10
             ) u
             UNION ALL
             SELECT v.key, v.value FROM (
               SELECT x.key, x.value, 2 AS d FROM SRC x ORDER BY key desc limit 10
             ) v
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src ORDER BY key LIMIT 10) a
        UNION ALL
        SELECT key, value FROM (
          SELECT key, value FROM src ORDER BY key DESC LIMIT 10) b
        ORDER BY key, value""")),

    // ---- clientpositive/order2.q: filter ABOVE an ordered-LIMIT
    //      subquery (pushdown must stop at the limit)
    QueryDef(
      "q363_qf_order2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s,
          """SELECT subq.key, subq.value FROM
             (SELECT x.key, x.value FROM SRC x ORDER BY key limit 10) subq
             where subq.key < 10
             ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT key, value FROM (
          SELECT key, value FROM src ORDER BY key LIMIT 10) subq
        WHERE TRY_CAST(key AS DOUBLE) < 10
        ORDER BY key, value""")),

    // ---- clientpositive/rcfile_columnar.q: ColumnarSerDe +
    //      INPUTFORMAT/OUTPUTFORMAT DDL mapped to the hiverc FileFormat,
    //      LIMIT insert -> facts oracle
    QueryDef(
      "q364_qf_rcfile_columnar",
      (s, dir) => {
        val d = s"columntable_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s,
          s"""CREATE table $d (key STRING, value STRING)
              ROW FORMAT SERDE
                'org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe'
              STORED AS
                INPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileInputFormat'
                OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileOutputFormat'""")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d SELECT src.key, src.value LIMIT 10")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(*) FROM $d) AS n,
                     (SELECT count(*) FROM $d a LEFT ANTI JOIN src b
                      ON a.key = b.key AND a.value = b.value) AS bad""")
      },
      Some("SELECT CAST(10 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad")),

    // ========== round-11 battery growth: math/trig udf tranche ==========
    // Irrational results round to 10 decimals on both sides; NaN results
    // (asin/acos outside [-1,1]) compare through isnan() because DuckDB
    // raises on out-of-domain trig instead of returning NaN.

    // ---- clientpositive/udf_negative.q: typed NULL negation
    QueryDef(
      "q365_qf_udf_negative",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select - cast(null as int) AS c1, - cast(null as bigint) AS c2,
                    - cast(null as double) AS c3, - cast(null as float) AS c4,
                    - cast(null as smallint) AS c5, - cast(null as tinyint) AS c6
             from src limit 1""")
      },
      Some("""SELECT CAST(NULL AS INT) AS c1, CAST(NULL AS BIGINT) AS c2,
                     CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS FLOAT) AS c4,
                     CAST(NULL AS SMALLINT) AS c5, CAST(NULL AS TINYINT) AS c6""")),

    // ---- clientpositive/udf_lower.q (key 86 -> 100 as q265)
    QueryDef(
      "q366_qf_udf_lower",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT lower('AbC 123') AS c1, upper('AbC 123') AS c2 " +
            "FROM src WHERE key = 100")
      },
      Some(s"""$SrcCte
        SELECT 'abc 123' AS c1, 'ABC 123' AS c2
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100""")),

    // ---- clientpositive/udf_cos.q
    QueryDef(
      "q367_qf_udf_cos",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(cos(0.98), 10) AS c1, round(cos(1.57), 10) AS c2,
                    round(cos(-0.5), 10) AS c3, cos(null) AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(cos(0.98), 10) AS c1, round(cos(1.57), 10) AS c2,
                     round(cos(-0.5), 10) AS c3, CAST(NULL AS DOUBLE) AS c4""")),

    // ---- clientpositive/udf_sin.q
    QueryDef(
      "q368_qf_udf_sin",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(sin(0.98), 10) AS c1, round(sin(1.57), 10) AS c2,
                    round(sin(-0.5), 10) AS c3, sin(null) AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(sin(0.98), 10) AS c1, round(sin(1.57), 10) AS c2,
                     round(sin(-0.5), 10) AS c3, CAST(NULL AS DOUBLE) AS c4""")),

    // ---- clientpositive/udf_tan.q
    QueryDef(
      "q369_qf_udf_tan",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(tan(1), 10) AS c1, round(tan(6), 10) AS c2,
                    round(tan(-1.0), 10) AS c3, tan(null) AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(tan(1), 10) AS c1, round(tan(6), 10) AS c2,
                     round(tan(-1.0), 10) AS c3, CAST(NULL AS DOUBLE) AS c4""")),

    // ---- clientpositive/udf_asin.q (out-of-domain -> NaN)
    QueryDef(
      "q370_qf_udf_asin",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(asin(-0.5), 10) AS c1, round(asin(0.66), 10) AS c2,
                    round(asin(0), 10) AS c3, isnan(asin(2)) AS c4,
                    asin(null) AS c5
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(asin(-0.5), 10) AS c1, round(asin(0.66), 10) AS c2,
                     round(asin(0), 10) AS c3, TRUE AS c4,
                     CAST(NULL AS DOUBLE) AS c5""")),

    // ---- clientpositive/udf_acos.q (the .q's second column IS asin)
    QueryDef(
      "q371_qf_udf_acos",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(acos(-0.5), 10) AS c1, round(asin(0.66), 10) AS c2,
                    round(acos(0), 10) AS c3, isnan(acos(2)) AS c4,
                    acos(null) AS c5
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(acos(-0.5), 10) AS c1, round(asin(0.66), 10) AS c2,
                     round(acos(0), 10) AS c3, TRUE AS c4,
                     CAST(NULL AS DOUBLE) AS c5""")),

    // ---- clientpositive/udf_atan.q
    QueryDef(
      "q372_qf_udf_atan",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT round(atan(1), 10) AS c1, round(atan(6), 10) AS c2,
                    round(atan(-1.0), 10) AS c3, atan(null) AS c4
             FROM src LIMIT 1""")
      },
      Some("""SELECT round(atan(1), 10) AS c1, round(atan(6), 10) AS c2,
                     round(atan(-1.0), 10) AS c3, CAST(NULL AS DOUBLE) AS c4""")),

    // ---- clientpositive/udf_degrees.q
    QueryDef(
      "q373_qf_udf_degrees",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "select round(degrees(PI()), 10) AS c1 FROM src LIMIT 1")
      },
      Some("SELECT CAST(180.0 AS DOUBLE) AS c1")),

    // ---- clientpositive/udf_radians.q
    QueryDef(
      "q374_qf_udf_radians",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select round(radians(143.2394), 10) AS c1,
                    round(radians(57.2958), 10) AS c2 FROM src LIMIT 1""")
      },
      Some("""SELECT round(radians(143.2394), 10) AS c1,
                     round(radians(57.2958), 10) AS c2""")),

    // ---- clientpositive/udf_E.q
    QueryDef(
      "q375_qf_udf_e",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "select round(E(), 10) AS c1 FROM src LIMIT 1")
      },
      Some("SELECT round(exp(1.0), 10) AS c1")),

    // ---- clientpositive/udf_PI.q
    QueryDef(
      "q376_qf_udf_pi",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "select round(PI(), 10) AS c1 FROM src LIMIT 1")
      },
      Some("SELECT round(pi(), 10) AS c1")),

    // ========== round-11 battery growth: auto_join tranche 2 ============
    // (auto_join3/9/10/22/23/24 are their joinN bases verbatim plus the
    // auto-convert SET, whose conversion q284/q290/q294 already pin
    // in-plan — the distinct shapes below are the ones not yet covered)

    // ---- clientpositive/auto_join2.q: ARITHMETIC second join key
    //      (src1.key + src2.key = src3.key coerces through DOUBLE)
    QueryDef(
      "q377_qf_auto_join2",
      (s, dir) => {
        val d = s"dest_j2_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key) JOIN src src3 ON (src1.key + src2.key = src3.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src3.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(src1.key AS INT) AS key, src3.value
        FROM src src1 JOIN src src2 ON src1.key = src2.key
        JOIN src src3
        ON TRY_CAST(src1.key AS DOUBLE) + TRY_CAST(src2.key AS DOUBLE)
           = TRY_CAST(src3.key AS DOUBLE)
        ORDER BY 1, 2""")),

    // ---- clientpositive/auto_join6.q: FULL OUTER of the overlapping
    //      range subqueries
    QueryDef(
      "q378_qf_auto_join6",
      (s, dir) => {
        val d = s"dest1_aj6_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               FULL OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
             ) c
             INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS c1, value AS c2 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 10 AND TRY_CAST(key AS DOUBLE) < 20),
          b AS (SELECT key AS c3, value AS c4 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 15 AND TRY_CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a FULL OUTER JOIN b ON a.c1 = b.c3
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
                 c4 NULLS FIRST""")),

    // ---- clientpositive/auto_join7.q: FULL OUTER then LEFT OUTER over a
    //      third range subquery, 6-col dest
    QueryDef(
      "q379_qf_auto_join7",
      (s, dir) => {
        val d = s"dest1_aj7_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING, c5 INT, c6 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
               FROM
                (
                FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
                ) a
               FULL OUTER JOIN
               (
                FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
               ) b
               ON (a.c1 = b.c3)
               LEFT OUTER JOIN
               (
                FROM src src3 SELECT src3.key AS c5, src3.value AS c6 WHERE src3.key > 20 and src3.key < 25
               ) c
               ON (a.c1 = c.c5)
               SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4, c.c5 AS c5, c.c6 AS c6
             ) c
             INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4, c.c5, c.c6""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1, c2, c3, c4, c5, c6")
      },
      Some(s"""$SrcCte,
          a AS (SELECT key AS c1, value AS c2 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 10 AND TRY_CAST(key AS DOUBLE) < 20),
          b AS (SELECT key AS c3, value AS c4 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 15 AND TRY_CAST(key AS DOUBLE) < 25),
          c AS (SELECT key AS c5, value AS c6 FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 20 AND TRY_CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4,
               CAST(c.c5 AS INT) AS c5, c.c6 AS c6
        FROM a FULL OUTER JOIN b ON a.c1 = b.c3
        LEFT OUTER JOIN c ON a.c1 = c.c5
        ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
                 c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST""")),

    // ---- clientpositive/auto_join11.q: subquery join with the filter
    //      INSIDE the ON (count readback — the .q's sum(hash) checksum)
    QueryDef(
      "q380_qf_auto_join11",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100""")
      },
      Some(s"""$SrcCte
        SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
        FROM (SELECT key AS c1 FROM src) src1
        JOIN (SELECT key AS c3 FROM src) src2
        ON src1.c1 = src2.c3 AND TRY_CAST(src1.c1 AS DOUBLE) < 100""")),

    // ---- clientpositive/auto_join12.q: three-way with a second ON filter
    QueryDef(
      "q381_qf_auto_join12",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100
             JOIN
             (SELECT src.key as c5, src.value as c6 from src) src3
             ON src1.c1 = src3.c5 AND src3.c5 < 80""")
      },
      Some(s"""$SrcCte
        SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
        FROM (SELECT key AS c1 FROM src) src1
        JOIN (SELECT key AS c3 FROM src) src2
        ON src1.c1 = src2.c3 AND TRY_CAST(src1.c1 AS DOUBLE) < 100
        JOIN (SELECT key AS c5 FROM src) src3
        ON src1.c1 = src3.c5 AND TRY_CAST(src3.c5 AS DOUBLE) < 80""")),

    // ---- clientpositive/auto_join13.q: ARITHMETIC third join key over
    //      the first two tables' sum
    QueryDef(
      "q382_qf_auto_join13",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
             FROM
             (SELECT src.key as c1, src.value as c2 from src) src1
             JOIN
             (SELECT src.key as c3, src.value as c4 from src) src2
             ON src1.c1 = src2.c3 AND src1.c1 < 100
             JOIN
             (SELECT src.key as c5, src.value as c6 from src) src3
             ON src1.c1 + src2.c3 = src3.c5 AND src3.c5 < 200""")
      },
      Some(s"""$SrcCte
        SELECT count(*) AS n, count(DISTINCT src1.c1) AS d
        FROM (SELECT key AS c1 FROM src) src1
        JOIN (SELECT key AS c3 FROM src) src2
        ON src1.c1 = src2.c3 AND TRY_CAST(src1.c1 AS DOUBLE) < 100
        JOIN (SELECT key AS c5 FROM src) src3
        ON TRY_CAST(src1.c1 AS DOUBLE) + TRY_CAST(src2.c3 AS DOUBLE)
           = TRY_CAST(src3.c5 AS DOUBLE)
           AND TRY_CAST(src3.c5 AS DOUBLE) < 200""")),

    // ---- clientpositive/auto_join17.q: both sides' stars into one dest
    QueryDef(
      "q383_qf_auto_join17",
      (s, dir) => {
        val d = s"dest1_aj17_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key1 INT, value1 STRING, key2 INT, value2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d SELECT src1.*, src2.*""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key1, value1, key2, value2")
      },
      Some(s"""$SrcCte
        SELECT CAST(src1.key AS INT) AS key1, src1.value AS value1,
               CAST(src2.key AS INT) AS key2, src2.value AS value2
        FROM src src1 JOIN src src2 ON src1.key = src2.key
        ORDER BY 1, 2, 3, 4""")),

    // ---- clientpositive/auto_join18.q: FULL OUTER of two AGGREGATE
    //      subqueries — count over src vs count-distinct over src1
    QueryDef(
      "q384_qf_auto_join18",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv
             FROM
              (
              SELECT src1.key as key, count(src1.value) AS value FROM src src1 group by src1.key
              ) a
             FULL OUTER JOIN
              (
              SELECT src2.key as key, count(distinct(src2.value)) AS value
              FROM src1 src2 group by src2.key
             ) b
             ON (a.key = b.key)
             ORDER BY ak, av, bk, bv""")
      },
      Some(s"""$Src1Cte
        SELECT a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv
        FROM (SELECT key, count(value) AS value FROM src GROUP BY key) a
        FULL OUTER JOIN
             (SELECT key, count(DISTINCT value) AS value FROM src1 GROUP BY key) b
        ON a.key = b.key
        ORDER BY ak NULLS FIRST, av NULLS FIRST, bk NULLS FIRST,
                 bv NULLS FIRST""")),

    // ---- clientpositive/auto_join19.q: OR-of-partitions filter over all
    //      four srcpart partitions
    QueryDef(
      "q385_qf_auto_join19",
      (s, dir) => {
        val d = s"dest1_aj19_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value
              where (src1.ds = '2008-04-08' or src1.ds = '2008-04-09' )and (src1.hr = '12' or src1.hr = '11')""")
        HiveQl.sql(s, s"SELECT count(*) AS n, count(DISTINCT key) AS d FROM $d")
      },
      Some(s"""$SrcPartCte
        SELECT count(*) AS n, count(DISTINCT src1.key) AS d
        FROM srcpart src1 JOIN src src2 ON src1.key = src2.key
        WHERE (src1.ds = '2008-04-08' OR src1.ds = '2008-04-09')
          AND (src1.hr = '12' OR src1.hr = '11')""")),

    // ---- clientpositive/auto_join27.q: UNION ALL of a plain and a
    //      DISTINCT branch joined against a filtered subquery
    QueryDef(
      "q386_qf_auto_join27",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT count(1) AS cnt
             FROM
             (
             SELECT src.key, src.value from src
             UNION ALL
             SELECT DISTINCT src.key, src.value from src
             ) src_12
             JOIN
             (SELECT src.key as k, src.value as v from src) src3
             ON src_12.key = src3.k AND src3.k < 200""")
      },
      Some(s"""$SrcCte
        SELECT count(1) AS cnt
        FROM (
          SELECT key, value FROM src
          UNION ALL
          SELECT DISTINCT key, value FROM src) src_12
        JOIN (SELECT key AS k FROM src) src3
        ON src_12.key = src3.k AND TRY_CAST(src3.k AS DOUBLE) < 200""")),

    // ---- clientpositive/auto_join28.q: all four LEFT/RIGHT chain
    //      permutations of the contradictory-ON pattern, union-tagged
    QueryDef(
      "q387_qf_auto_join28",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val combos = Seq(
          ("LEFT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "RIGHT OUTER JOIN"))
        val sql = combos.zipWithIndex.map { case ((j1, j2), i) =>
          s"""SELECT ${i + 1} AS jt, src1.key AS k1, src1.value AS v1,
                     src2.key AS k2, src2.value AS v2, src3.key AS k3,
                     src3.value AS v3
              FROM src src1 $j1 src src2
                ON (src1.key = src2.key AND src1.key < 10 AND src2.key > 10)
              $j2 src src3 ON (src2.key = src3.key AND src3.key < 10)"""
        }.mkString("\nUNION ALL\n") +
          "\nORDER BY jt, k1, v1, k2, v2, k3, v3"
        HiveQl.sql(s, sql)
      },
      Some {
        val combos = Seq(
          ("LEFT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "RIGHT OUTER JOIN"))
        val SrcCteLocal =
          """WITH src AS (
               SELECT CAST((rn * rn) % 500 AS VARCHAR) AS key,
                      'val_' || CAST((rn * rn) % 500 AS VARCHAR) AS value
               FROM (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn
                     FROM orders) t
               WHERE rn <= 500)"""
        SrcCteLocal + "\nSELECT jt, k1, v1, k2, v2, k3, v3 FROM (" +
          combos.zipWithIndex.map { case ((j1, j2), i) =>
            s"""SELECT ${i + 1} AS jt, src1.key AS k1, src1.value AS v1,
                       src2.key AS k2, src2.value AS v2, src3.key AS k3,
                       src3.value AS v3
                FROM src src1 $j1 src src2
                  ON (src1.key = src2.key AND CAST(src1.key AS DOUBLE) < 10
                      AND CAST(src2.key AS DOUBLE) > 10)
                $j2 src src3
                  ON (src2.key = src3.key AND CAST(src3.key AS DOUBLE) < 10)"""
          }.mkString("\nUNION ALL\n") +
          """) u ORDER BY jt, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
               v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST"""
      }),

    // ---- clientpositive/auto_join31.q: RIGHT OUTER + INNER over three
    //      sorted subqueries
    QueryDef(
      "q388_qf_auto_join31",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """FROM
             (SELECT src.* FROM src sort by key) x
             RIGHT OUTER JOIN
             (SELECT src.* FROM src sort by value) Y
             ON (x.key = Y.key)
             JOIN
             (SELECT src.* FROM src sort by value) Z
             ON (x.key = Z.key)
             select count(*) AS n, count(DISTINCT Y.key) AS d""")
      },
      Some(s"""$SrcCte
        SELECT count(*) AS n, count(DISTINCT y.key) AS d
        FROM src x RIGHT OUTER JOIN src y ON x.key = y.key
        JOIN src z ON x.key = z.key""")))  ++ GbVariantDefs ++ AutoJoin3Defs

  // ========== round-11 battery growth: auto_join tranche 3 ==============
  // The remaining auto_join family files. auto_join_nulls/auto_join_filters
  // load the reference's OWN in1.txt/in3.txt verbatim, so their .q.out
  // golden checksums transfer unchanged — the oracle IS the reference
  // golden (sum(hash(...)) through graft's Hive-parity `hash`, q83).
  // src-based files use the derived fixture, so their checksums are
  // replaced by row multisets under the DuckDB oracle (the documented
  // battery convention, strictly stronger where the fixture is shared).

  /** auto_join_nulls.q: the 22 select forms IN FILE ORDER, paired with the
    * reference goldens (ql/src/test/results/clientpositive/
    * auto_join_nulls.q.out). Forms 20-22 are the chained outer joins
    * including the merged-ON `a LEFT OUTER JOIN b RIGHT OUTER JOIN c ON
    * cond1 and cond2` shape.
    */
  private def autoNullsSelects(t: String): Seq[(String, Long)] = {
    def two(jt: String, on: String): String =
      s"FROM $t a $jt $t b" + (if (on.isEmpty) "" else s" ON $on")
    Seq(
      two("JOIN", "") -> 13630578L,
      two("LEFT OUTER JOIN", "") -> 13630578L,
      two("RIGHT OUTER JOIN", "") -> 13630578L,
      two("JOIN", "a.key = b.value") -> 3078400L,
      two("JOIN", "a.key = b.key") -> 4509856L,
      two("JOIN", "a.value = b.value") -> 3112070L,
      two("JOIN", "a.value = b.value and a.key=b.key") -> 3078400L,
      two("LEFT OUTER JOIN", "a.key = b.value") -> 4542003L,
      two("LEFT OUTER JOIN", "a.value = b.value") -> 4542038L,
      two("LEFT OUTER JOIN", "a.key = b.key") -> 4543491L,
      two("LEFT OUTER JOIN", "a.key = b.key and a.value=b.value") -> 4542003L,
      two("RIGHT OUTER JOIN", "a.key = b.value") -> 3079923L,
      two("RIGHT OUTER JOIN", "a.key = b.key") -> 4509891L,
      two("RIGHT OUTER JOIN", "a.value = b.value") -> 3113558L,
      two("RIGHT OUTER JOIN", "a.key=b.key and a.value = b.value") -> 3079923L,
      two("FULL OUTER JOIN", "a.key = b.value") -> 4543526L,
      two("FULL OUTER JOIN", "a.key = b.key") -> 4543526L,
      two("FULL OUTER JOIN", "a.value = b.value") -> 4543526L,
      two("FULL OUTER JOIN", "a.value = b.value and a.key=b.key") -> 4543526L,
      s"from $t a LEFT OUTER JOIN $t b ON (a.value=b.value) " +
        s"RIGHT OUTER JOIN $t c ON (b.value=c.value)" -> 3112070L,
      s"from $t a RIGHT OUTER JOIN $t b ON (a.value=b.value) " +
        s"LEFT OUTER JOIN $t c ON (b.value=c.value)" -> 3113558L,
      s"FROM $t a LEFT OUTER JOIN $t b RIGHT OUTER JOIN $t c " +
        s"ON a.value = b.value and b.value = c.value" -> 3112070L)
  }

  /** auto_join_filters.q: the 26 select forms IN FILE ORDER with the
    * first-half goldens (hive.outerjoin.supports.filters=true, the ANSI
    * leg). The .q repeats all 26 under supports.filters=false, where every
    * golden collapses to the pre-filtered 3078400/3080335 results — that
    * leg runs through [[graft.plans.HiveOuterJoinFilters]].
    */
  private def autoFiltersSelects(t: String): Seq[(String, Long)] = {
    val aF = "a.key > 40 AND a.value > 50 AND a.key = a.value"
    val bF = "b.key > 40 AND b.value > 50 AND b.key = b.value"
    val cF = "c.key > 40 AND c.value > 50 AND c.key = c.value"
    def two(jt: String, eq: String, g: Long): (String, Long) = {
      val on = if (eq.isEmpty) s"$aF AND $bF" else s"$eq AND $aF AND $bF"
      s"FROM $t a $jt $t b ON $on" -> g
    }
    Seq(
      two("JOIN", "", 3078400L),
      two("LEFT OUTER JOIN", "", 4937935L),
      two("RIGHT OUTER JOIN", "", 3080335L),
      // DOCUMENTED DIVERGENCE (the one non-golden value in this battery):
      // the reference golden is 19749880, which decomposes EXACTLY as
      // Hive 0.8's CommonJoinOperator per-pair null-supplement bug on
      // FULL OUTER with filter-only ON (no key group): for every pair in
      // the cross product it emits (a, NULL) when the pair fails, PLUS
      // (NULL, b) per pair where b fails — 3078400 (match) + 3x3075200 +
      // 1935 + 1859535 + 3x1859535 + 3x1935 = 19749880, i.e. unmatched
      // rows null-pad once PER PAIR instead of once per row. ANSI (and
      // Spark, DuckDB, and Hive's own later fix) emits each unmatched row
      // once: 3078400 + 1859535 + 1935 = 4939870, pinned here. Every
      // equi-keyed FULL OUTER form below matches its golden (singleton
      // key groups can't manifest the bug).
      two("FULL OUTER JOIN", "", 4939870L),
      two("JOIN", "a.key = b.value", 3078400L),
      two("JOIN", "a.key = b.key", 3078400L),
      two("JOIN", "a.value = b.value", 3078400L),
      two("JOIN", "a.value = b.value and a.key=b.key", 3078400L),
      two("LEFT OUTER JOIN", "a.key = b.value", 4937935L),
      two("LEFT OUTER JOIN", "a.value = b.value", 4937935L),
      two("LEFT OUTER JOIN", "a.key = b.key", 4937935L),
      two("LEFT OUTER JOIN", "a.key = b.key and a.value=b.value", 4937935L),
      two("RIGHT OUTER JOIN", "a.key = b.value", 3080335L),
      two("RIGHT OUTER JOIN", "a.key = b.key", 3080335L),
      two("RIGHT OUTER JOIN", "a.value = b.value", 3080335L),
      two("RIGHT OUTER JOIN", "a.key=b.key and a.value = b.value", 3080335L),
      two("FULL OUTER JOIN", "a.key = b.value", 4939870L),
      two("FULL OUTER JOIN", "a.key = b.key", 4939870L),
      two("FULL OUTER JOIN", "a.value = b.value", 4939870L),
      two("FULL OUTER JOIN", "a.value = b.value and a.key=b.key", 4939870L),
      (s"from $t a LEFT OUTER JOIN $t b ON (a.value=b.value AND $aF AND $bF) " +
        s"RIGHT OUTER JOIN $t c ON (b.value=c.value AND $cF AND $bF)") -> 3078400L,
      (s"from $t a RIGHT OUTER JOIN $t b ON (a.value=b.value AND $aF AND $bF) " +
        s"LEFT OUTER JOIN $t c ON (b.value=c.value AND $cF AND $bF)") -> 3080335L,
      (s"FROM $t a LEFT OUTER JOIN $t b RIGHT OUTER JOIN $t c " +
        s"ON a.value = b.value and b.value = c.value AND $aF AND $bF AND $cF") -> 3078400L,
      (s"from $t a LEFT OUTER JOIN $t b ON (a.value=b.value AND $aF AND $bF) " +
        s"RIGHT OUTER JOIN $t c ON (b.key=c.key AND $cF AND $bF)") -> 3078400L,
      (s"from $t a RIGHT OUTER JOIN $t b ON (a.value=b.value AND $aF AND $bF) " +
        s"LEFT OUTER JOIN $t c ON (b.key=c.key AND $cF AND $bF)") -> 3080335L,
      (s"FROM $t a LEFT OUTER JOIN $t b RIGHT OUTER JOIN $t c " +
        s"ON a.value = b.value and b.key = c.key AND $aF AND $bF AND $cF") -> 3078400L)
  }

  private def checksumUnion(s: SparkSession, selects: Seq[(String, Long)],
      offset: Int): DataFrame =
    HiveQl.sql(s, selects.zipWithIndex.map { case ((frag, _), i) =>
      s"SELECT ${offset + i + 1} AS jt, " +
        s"sum(hash(a.key,a.value,b.key,b.value)) AS s $frag"
    }.mkString("\nUNION ALL\n"))

  private def checksumOracle(selects: Seq[(Long, Int)]): String =
    "SELECT CAST(jt AS INT) AS jt, CAST(s AS BIGINT) AS s FROM (VALUES " +
      selects.map { case (g, i) => s"($i, $g)" }.mkString(", ") +
      ") v(jt, s) ORDER BY jt"

  private lazy val AutoJoin3Defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/auto_join_nulls.q: the NULL-join battery over
    //      the reference's own in1.txt, auto-converted; oracle = the
    //      reference's .q.out golden checksums verbatim
    QueryDef(
      "q389_qf_auto_join_nulls",
      (s, dir) => {
        val t = s"myinput1_ajn_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in1.txt' INTO TABLE $t")
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        checksumUnion(s, autoNullsSelects(t), 0).orderBy("jt")
      },
      Some(checksumOracle(
        autoNullsSelects("t").map(_._2).zipWithIndex.map {
          case (g, i) => (g, i + 1) }))),

    // ---- clientpositive/auto_join_filters.q: 26 filter-heavy ON forms ×
    //      two legs — hive.outerjoin.supports.filters=true (ANSI) and
    //      =false (input pre-filtering via plans.HiveOuterJoinFilters);
    //      all 52 goldens from auto_join_filters.q.out. Leg 2 is
    //      materialized via localCheckpoint while the conf holds.
    QueryDef(
      "q390_qf_auto_join_filters",
      (s, dir) => {
        val t = s"myinput1_ajf_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value int) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in3.txt' INTO TABLE $t")
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val forms = autoFiltersSelects(t)
        val leg1 = checksumUnion(s, forms, 0).localCheckpoint(true)
        // leg 2 runs in an ISOLATED newSession(): the conf flip must not
        // leak into concurrently-analyzing queries on the shared session
        // (Verify runs query threads in parallel — a session-wide SET here
        // poisoned q178/q224's outer joins). newSession shares the catalog
        // (the loaded table) and extensions but owns its conf; the eager
        // localCheckpoint pins the legacy-semantics result so the final
        // union can't re-optimize it under the parent session's conf.
        val s2 = s.newSession()
        s2.conf.set("hive.outerjoin.supports.filters", "false")
        val leg2 = checksumUnion(s2, forms, 26).localCheckpoint(true)
        leg1.union(leg2).orderBy("jt")
      },
      Some(checksumOracle(
        autoFiltersSelects("t").map(_._2).zipWithIndex.map {
          case (g, i) => (g, i + 1) } ++
        // leg 2 goldens: with supports.filters=false every form pre-filters
        // both inputs down to the single (100,100) row, so ALL 26 second-
        // half .q.out checksums are the one-row 3078400 — chains included
        autoFiltersSelects("t").indices.map(i => (3078400L, i + 27))))),

    // ---- clientpositive/auto_join29.q: the full 3x3 outer/inner chain
    //      matrix over the contradictory ON filters (q387 = auto_join28
    //      covered the 4 LEFT/RIGHT-only combos; this adds the 5
    //      JOIN-mixed ones and re-runs all 9 verbatim)
    QueryDef(
      "q391_qf_auto_join29",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val combos = Seq(
          ("LEFT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("JOIN", "LEFT OUTER JOIN"),
          ("JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "JOIN"),
          ("RIGHT OUTER JOIN", "JOIN"),
          ("JOIN", "JOIN"))
        HiveQl.sql(s, "SELECT jt, k1, v1, k2, v2, k3, v3 FROM (" +
          combos.zipWithIndex.map { case ((j1, j2), i) =>
            s"""SELECT ${i + 1} AS jt, src1.key AS k1, src1.value AS v1,
                       src2.key AS k2, src2.value AS v2, src3.key AS k3,
                       src3.value AS v3
                FROM src src1 $j1 src src2
                  ON (src1.key = src2.key AND src1.key < 10 AND src2.key > 10)
                $j2 src src3
                  ON (src2.key = src3.key AND src3.key < 10)"""
          }.mkString("\nUNION ALL\n") +
          ") u ORDER BY jt, k1, v1, k2, v2, k3, v3")
      },
      Some {
        val combos = Seq(
          ("LEFT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "LEFT OUTER JOIN"),
          ("RIGHT OUTER JOIN", "RIGHT OUTER JOIN"),
          ("JOIN", "LEFT OUTER JOIN"),
          ("JOIN", "RIGHT OUTER JOIN"),
          ("LEFT OUTER JOIN", "JOIN"),
          ("RIGHT OUTER JOIN", "JOIN"),
          ("JOIN", "JOIN"))
        SrcCte + "\nSELECT jt, k1, v1, k2, v2, k3, v3 FROM (" +
          combos.zipWithIndex.map { case ((j1, j2), i) =>
            s"""SELECT ${i + 1} AS jt, src1.key AS k1, src1.value AS v1,
                       src2.key AS k2, src2.value AS v2, src3.key AS k3,
                       src3.value AS v3
                FROM src src1 $j1 src src2
                  ON (src1.key = src2.key AND CAST(src1.key AS DOUBLE) < 10
                      AND CAST(src2.key AS DOUBLE) > 10)
                $j2 src src3
                  ON (src2.key = src3.key AND CAST(src3.key AS DOUBLE) < 10)"""
          }.mkString("\nUNION ALL\n") +
          """) u ORDER BY jt, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
               v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST"""
      }),

    // ---- clientpositive/auto_join16.q: subquery join whose WHERE
    //      `tab.value < 200` coerces 'val_x' to DOUBLE NULL — the result
    //      is EMPTY and the .q golden is the NULL checksum
    QueryDef(
      "q392_qf_auto_join16",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT sum(hash(subq.key, tab.value)) AS s
             FROM
             (select a.key, a.value from src a where a.key > 10 ) subq
             JOIN src tab
             ON (subq.key = tab.key and subq.key > 20 and subq.value = tab.value)
             where tab.value < 200""")
      },
      Some("SELECT CAST(NULL AS BIGINT) AS s")),

    // ---- clientpositive/auto_join25.q: the map-join memory-pressure
    //      confs (localtask.max.memory.usage / check.memory.rows) with the
    //      three backup-task dests — results must equal the plain joins
    //      regardless of the local-task fallback machinery
    QueryDef(
      "q393_qf_auto_join25",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, d2, d3) = (s"dest1_aj25_$sfx", s"dest_j2_aj25_$sfx", s"dest_j1_aj25_$sfx")
        fresh(s, d1, d2, d3)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, "SET hive.mapjoin.localtask.max.memory.usage=0.0001")
        HiveQl.sql(s, "SET hive.mapjoin.check.memory.rows=2")
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d1 SELECT src1.key, src2.value
              where (src1.ds = '2008-04-08' or src1.ds = '2008-04-09' )and (src1.hr = '12' or src1.hr = '11')""")
        HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key) JOIN src src3 ON (src1.key + src2.key = src3.key)
              INSERT OVERWRITE TABLE $d2 SELECT src1.key, src3.value""")
        HiveQl.sql(s, s"CREATE TABLE $d3(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d3 SELECT src1.key, src2.value""")
        HiveQl.sql(s,
          s"""SELECT tag, key, value, n FROM (
              SELECT 'd1' AS tag, key, value, CAST(count(*) AS BIGINT) AS n FROM $d1 GROUP BY key, value
              UNION ALL SELECT 'j2', key, value, CAST(count(*) AS BIGINT) FROM $d2 GROUP BY key, value
              UNION ALL SELECT 'j1', key, value, CAST(count(*) AS BIGINT) FROM $d3 GROUP BY key, value) u
              ORDER BY tag, key, value""")
      },
      Some(s"""$SrcPartCte
        SELECT tag, key, value, n FROM (
          SELECT 'd1' AS tag, CAST(sp.key AS INT) AS key, s2.value AS value,
                 CAST(count(*) AS BIGINT) AS n
          FROM srcpart sp JOIN src s2 ON sp.key = s2.key
          WHERE (sp.ds = '2008-04-08' OR sp.ds = '2008-04-09')
            AND (sp.hr = '12' OR sp.hr = '11')
          GROUP BY 2, 3
          UNION ALL
          SELECT 'j2', CAST(s1.key AS INT), s3.value, CAST(count(*) AS BIGINT)
          FROM src s1 JOIN src s2 ON s1.key = s2.key
          JOIN src s3
            ON CAST(s1.key AS DOUBLE) + CAST(s2.key AS DOUBLE) = CAST(s3.key AS DOUBLE)
          GROUP BY 2, 3
          UNION ALL
          SELECT 'j1', CAST(s1.key AS INT), s2.value, CAST(count(*) AS BIGINT)
          FROM src s1 JOIN src s2 ON s1.key = s2.key
          GROUP BY 2, 3) u
        ORDER BY tag, key, value""")),

    // ---- clientpositive/join18_multi_distinct.q: FULL OUTER of a plain
    //      count aggregate against a TWO-count-distinct aggregate over the
    //      kv3-shaped src1 side
    QueryDef(
      "q394_qf_join18_multi_distinct",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT a.key AS ak, a.value AS av, b.key AS bk,
                    b.value1 AS bv1, b.value2 AS bv2
             FROM
              (
              SELECT src1.key as key, count(src1.value) AS value FROM src src1 group by src1.key
              ) a
             FULL OUTER JOIN
             (
              SELECT src2.key as key, count(distinct(src2.value)) AS value1,
              count(distinct(src2.key)) AS value2
              FROM src1 src2 group by src2.key
             ) b
             ON (a.key = b.key)
             ORDER BY ak, av, bk, bv1, bv2""")
      },
      Some(s"""$Src1Cte
        SELECT a.key AS ak, a.value AS av, b.key AS bk,
               b.value1 AS bv1, b.value2 AS bv2
        FROM (SELECT key, CAST(count(value) AS BIGINT) AS value
              FROM src GROUP BY key) a
        FULL OUTER JOIN
             (SELECT key, CAST(count(DISTINCT value) AS BIGINT) AS value1,
                     CAST(count(DISTINCT key) AS BIGINT) AS value2
              FROM src1 GROUP BY key) b
        ON a.key = b.key
        ORDER BY ak NULLS FIRST, av NULLS FIRST, bk NULLS FIRST,
                 bv1 NULLS FIRST, bv2 NULLS FIRST""")),

    // ---- clientpositive/auto_join18_multi_distinct.q: the same FULL
    //      OUTER multi-distinct shape under auto-conversion (Hive falls
    //      back to common join for FULL OUTER; so does Spark)
    QueryDef(
      "q395_qf_auto_join18_multi_distinct",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT a.key AS ak, a.value AS av, b.key AS bk,
                    b.value1 AS bv1, b.value2 AS bv2
             FROM
              (
              SELECT src1.key as key, count(src1.value) AS value FROM src src1 group by src1.key
              ) a
             FULL OUTER JOIN
             (
              SELECT src2.key as key, count(distinct(src2.value)) AS value1,
              count(distinct(src2.key)) AS value2
              FROM src1 src2 group by src2.key
             ) b
             ON (a.key = b.key)
             ORDER BY ak, av, bk, bv1, bv2""")
      },
      Some(s"""$Src1Cte
        SELECT a.key AS ak, a.value AS av, b.key AS bk,
               b.value1 AS bv1, b.value2 AS bv2
        FROM (SELECT key, CAST(count(value) AS BIGINT) AS value
              FROM src GROUP BY key) a
        FULL OUTER JOIN
             (SELECT key, CAST(count(DISTINCT value) AS BIGINT) AS value1,
                     CAST(count(DISTINCT key) AS BIGINT) AS value2
              FROM src1 GROUP BY key) b
        ON a.key = b.key
        ORDER BY ak NULLS FIRST, av NULLS FIRST, bk NULLS FIRST,
                 bv1 NULLS FIRST, bv2 NULLS FIRST""")),

    // ---- clientpositive/auto_join3.q: three-way SAME-key self join into
    //      a dest under auto-conversion (join3's base verbatim)
    QueryDef(
      "q396_qf_auto_join3",
      (s, dir) => {
        val d = s"dest1_aj3_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 JOIN src src2 ON (src1.key = src2.key) JOIN src src3 ON (src1.key = src3.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src3.value""")
        HiveQl.sql(s, s"SELECT key, value, CAST(count(*) AS BIGINT) AS n " +
          s"FROM $d GROUP BY key, value ORDER BY key, value")
      },
      Some(s"""$SrcCte
        SELECT CAST(s1.key AS INT) AS key, s3.value AS value,
               CAST(count(*) AS BIGINT) AS n
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        JOIN src s3 ON s1.key = s3.key
        GROUP BY 1, 2 ORDER BY key, value""")),

    // ---- clientpositive/auto_join9.q: srcpart x src with static ds/hr
    //      SELECT-side filters into a dest
    QueryDef(
      "q397_qf_auto_join9",
      (s, dir) => {
        val d = s"dest1_aj9_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src1 JOIN src src2 ON (src1.key = src2.key)
              INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value where src1.ds = '2008-04-08' and src1.hr = '12'""")
        HiveQl.sql(s, s"SELECT key, value, CAST(count(*) AS BIGINT) AS n " +
          s"FROM $d GROUP BY key, value ORDER BY key, value")
      },
      Some(s"""$SrcPartCte
        SELECT CAST(sp.key AS INT) AS key, s2.value AS value,
               CAST(count(*) AS BIGINT) AS n
        FROM srcpart sp JOIN src s2 ON sp.key = s2.key
        WHERE sp.ds = '2008-04-08' AND sp.hr = '12'
        GROUP BY 1, 2 ORDER BY key, value""")),

    // ---- clientpositive/auto_join10.q: subquery self-join (checksum
    //      replaced by the Y-side row multiset)
    QueryDef(
      "q398_qf_auto_join10",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT Y.key AS key, Y.value AS value, CAST(count(*) AS BIGINT) AS n
             FROM
             (SELECT src.* FROM src) x
             JOIN
             (SELECT src.* FROM src) Y
             ON (x.key = Y.key)
             GROUP BY Y.key, Y.value ORDER BY key, value""")
      },
      Some(s"""$SrcCte
        SELECT y.key AS key, y.value AS value, CAST(count(*) AS BIGINT) AS n
        FROM src x JOIN src y ON x.key = y.key
        GROUP BY 1, 2 ORDER BY key, value""")),

    // ---- clientpositive/auto_join22.q: doubly-nested subquery chain
    //      (src4 x (src1 x src2)) projecting the innermost value
    QueryDef(
      "q399_qf_auto_join22",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s,
          """SELECT src5.src1_value AS v, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT src3.*, src4.value as src4_value, src4.key as src4_key
                   FROM src src4
                   JOIN (SELECT src2.*, src1.key as src1_key, src1.value as src1_value
                         FROM src src1 JOIN src src2 ON src1.key = src2.key) src3
                   ON src3.src1_key = src4.key) src5
             GROUP BY src5.src1_value ORDER BY v""")
      },
      Some(s"""$SrcCte
        SELECT s1.value AS v, CAST(count(*) AS BIGINT) AS n
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        JOIN src s4 ON s1.key = s4.key
        GROUP BY 1 ORDER BY v""")),

    // ---- clientpositive/auto_join23.q: ON-less join + WHERE range
    //      filters, auto-converted — broadcast nested-loop required
    QueryDef(
      "q400_qf_auto_join23",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        val df = HiveQl.sql(s,
          """SELECT src1.key AS k1, src1.value AS v1, src2.key AS k2,
                    src2.value AS v2
             FROM src src1 JOIN src src2
             WHERE src1.key < 10 and src2.key < 10
             SORT BY k1, v1, k2, v2""")
        require(df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
          "auto-converted ON-less join must broadcast")
        df
      },
      Some(s"""$SrcCte, f AS (
          SELECT * FROM src WHERE TRY_CAST(key AS DOUBLE) < 10)
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM f a CROSS JOIN f b
        ORDER BY k1, v1, k2, v2""")),

    // ---- clientpositive/auto_join24.q: CTAS-style aggregate table then
    //      the 1:1 self-join sum
    QueryDef(
      "q401_qf_auto_join24",
      (s, dir) => {
        val t = s"tst1_aj24_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "SET hive.auto.convert.join=true")
        HiveQl.sql(s, s"create table $t(key STRING, cnt INT)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
              SELECT a.key, count(1) FROM src a group by a.key""")
        HiveQl.sql(s,
          s"SELECT sum(a.cnt) AS s FROM $t a JOIN $t b ON a.key = b.key")
      },
      Some(s"""$SrcCte
        SELECT CAST(sum(a.cnt) AS BIGINT) AS s
        FROM (SELECT key, CAST(count(*) AS INT) AS cnt FROM src GROUP BY key) a
        JOIN (SELECT key FROM src GROUP BY key) b ON a.key = b.key""")))

  // ========== round-11 battery growth: groupbyN SET-variant block =======
  // The groupbyN_{map,map_skew,noskew,...} .q files run their family's
  // statements under explicit hive.map.aggr x hive.groupby.skewindata
  // combinations — in Hive the PLANS differ (map-side partial aggregation;
  // the skew two-job group-by), the results must not. One QueryDef per .q
  // file; Catalyst's partial/final aggregation subsumes all four plans.

  private def gbSets(s: SparkSession, aggr: Boolean, skew: Boolean,
      nomap: Boolean): Unit = {
    HiveQl.sql(s, s"SET hive.map.aggr=$aggr")
    HiveQl.sql(s, s"SET hive.groupby.skewindata=$skew")
    if (nomap) HiveQl.sql(s, "SET hive.groupby.mapaggr.checkinterval=20")
    HiveQl.sql(s, "SET mapred.reduce.tasks=31")
  }

  private def gbDest(s: SparkSession, dir: String, tag: String,
      ddlCols: String): String = {
    val d = s"dest_${tag}_${fixtures(s, dir)}"
    fresh(s, d)
    HiveQl.sql(s, s"CREATE TABLE $d($ddlCols) STORED AS TEXTFILE")
    d
  }

  /** (family key -> (body, oracle)); body(s, dir, tag). */
  private lazy val GbFamilies: Map[String, ((SparkSession, String, String) => DataFrame, String)] = Map(
    "g1" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key INT, value DOUBLE")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT src.key, sum(substr(src.value,5)) GROUP BY src.key")
      HiveQl.sql(s, s"SELECT $d.key, round($d.value, 2) AS value FROM $d ORDER BY key")
    }, s"""$SrcCte
      SELECT CAST(key AS INT) AS key,
             round(sum(CAST(substr(value, 5) AS DOUBLE)), 2) AS value
      FROM src GROUP BY key ORDER BY key""")),
    "g2" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key STRING, c1 INT, c2 STRING")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
        "concat(substr(src.key,1,1),sum(substr(src.value,5))) GROUP BY substr(src.key,1,1)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
    }, s"""$SrcCte
      SELECT substr(key,1,1) AS key,
             CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
             substr(key,1,1) ||
               CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2
      FROM src GROUP BY substr(key,1,1) ORDER BY key""")),
    "g2md" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key STRING, c1 INT, c2 STRING, c3 INT, c4 INT")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
        "concat(substr(src.key,1,1),sum(substr(src.value,5))), " +
        "sum(DISTINCT substr(src.value, 5)), count(src.value) " +
        "GROUP BY substr(src.key,1,1)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
    }, s"""$SrcCte
      SELECT substr(key,1,1) AS key,
             CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
             substr(key,1,1) ||
               CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2,
             CAST(sum(DISTINCT CAST(substr(value,5) AS DOUBLE)) AS INT) AS c3,
             CAST(count(value) AS INT) AS c4
      FROM src GROUP BY substr(key,1,1) ORDER BY key""")),
    "g3" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "c1 DOUBLE, c2 DOUBLE, c3 DOUBLE, " +
        "c4 DOUBLE, c5 DOUBLE, c6 DOUBLE, c7 DOUBLE, c8 DOUBLE, c9 DOUBLE")
      HiveQl.sql(s,
        s"""FROM src INSERT OVERWRITE TABLE $d SELECT
           sum(substr(src.value,5)), avg(substr(src.value,5)),
           avg(DISTINCT substr(src.value,5)), max(substr(src.value,5)),
           min(substr(src.value,5)), std(substr(src.value,5)),
           stddev_samp(substr(src.value,5)), variance(substr(src.value,5)),
           var_samp(substr(src.value,5))""")
      HiveQl.sql(s, s"SELECT round(c1,2) AS c1, round(c2,4) AS c2, " +
        s"round(c3,4) AS c3, c4, c5, round(c6,4) AS c6, round(c7,4) AS c7, " +
        s"round(c8,2) AS c8, round(c9,2) AS c9 FROM $d ORDER BY c1")
    }, s"""$SrcCte
      SELECT round(sum(v), 2) AS c1, round(avg(v), 4) AS c2,
             round(avg(DISTINCT v), 4) AS c3,
             CAST(max(sv) AS DOUBLE) AS c4, CAST(min(sv) AS DOUBLE) AS c5,
             round(stddev_pop(v), 4) AS c6, round(stddev_samp(v), 4) AS c7,
             round(var_pop(v), 2) AS c8, round(var_samp(v), 2) AS c9
      FROM (SELECT substr(value, 5) AS sv,
                   CAST(substr(value, 5) AS DOUBLE) AS v FROM src) t
      ORDER BY c1""")),
    "g3md" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "c1 DOUBLE, c2 DOUBLE, c3 DOUBLE, " +
        "c4 DOUBLE, c5 DOUBLE, c6 DOUBLE, c7 DOUBLE, c8 DOUBLE, " +
        "c9 DOUBLE, c10 DOUBLE, c11 DOUBLE")
      HiveQl.sql(s,
        s"""FROM src INSERT OVERWRITE TABLE $d SELECT
           sum(substr(src.value,5)), avg(substr(src.value,5)),
           avg(DISTINCT substr(src.value,5)), max(substr(src.value,5)),
           min(substr(src.value,5)), std(substr(src.value,5)),
           stddev_samp(substr(src.value,5)), variance(substr(src.value,5)),
           var_samp(substr(src.value,5)),
           sum(DISTINCT substr(src.value, 5)),
           count(DISTINCT substr(src.value, 5))""")
      HiveQl.sql(s, s"SELECT round(c1,2) AS c1, round(c2,4) AS c2, " +
        s"round(c3,4) AS c3, c4, c5, round(c6,4) AS c6, round(c7,4) AS c7, " +
        s"round(c8,2) AS c8, round(c9,2) AS c9, round(c10,2) AS c10, " +
        s"c11 FROM $d ORDER BY c1")
    }, s"""$SrcCte
      SELECT round(sum(v), 2) AS c1, round(avg(v), 4) AS c2,
             round(avg(DISTINCT v), 4) AS c3,
             CAST(max(sv) AS DOUBLE) AS c4, CAST(min(sv) AS DOUBLE) AS c5,
             round(stddev_pop(v), 4) AS c6, round(stddev_samp(v), 4) AS c7,
             round(var_pop(v), 2) AS c8, round(var_samp(v), 2) AS c9,
             round(sum(DISTINCT v), 2) AS c10,
             CAST(count(DISTINCT v) AS DOUBLE) AS c11
      FROM (SELECT substr(value, 5) AS sv,
                   CAST(substr(value, 5) AS DOUBLE) AS v FROM src) t
      ORDER BY c1""")),
    "g4count" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key INT")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d SELECT count(1)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d")
    }, s"""$SrcCte
      SELECT CAST(count(1) AS INT) AS key FROM src""")),
    "g4sub" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "c1 STRING")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT substr(src.key,1,1) GROUP BY substr(src.key,1,1)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1")
    }, s"""$SrcCte
      SELECT DISTINCT substr(key,1,1) AS c1 FROM src ORDER BY c1""")),
    "g5sumkey" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key INT")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d SELECT sum(src.key)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d")
    }, s"""$SrcCte
      SELECT CAST(sum(CAST(key AS DOUBLE)) AS INT) AS key FROM src""")),
    "g5ins" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "key INT, value STRING")
      HiveQl.sql(s,
        s"""INSERT OVERWRITE TABLE $d
            SELECT src.key, sum(substr(src.value,5))
            FROM src
            GROUP BY src.key""")
      HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
    }, s"""$SrcCte
      SELECT CAST(key AS INT) AS key,
             CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS value
      FROM src GROUP BY key ORDER BY key""")),
    "g6dist" -> (((s: SparkSession, dir: String, tag: String) => {
      val d = gbDest(s, dir, tag, "c1 STRING")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT DISTINCT substr(src.value,5,1)")
      HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY c1")
    }, s"""$SrcCte
      SELECT DISTINCT substr(value,5,1) AS c1 FROM src ORDER BY c1""")),
    "g7" -> (((s: SparkSession, dir: String, tag: String) => {
      val sfx = fixtures(s, dir)
      val (d1, d2) = (s"dest_${tag}a_$sfx", s"dest_${tag}b_$sfx")
      fresh(s, d1, d2)
      HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
      HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
      HiveQl.sql(s,
        s"""FROM SRC
           INSERT OVERWRITE TABLE $d1 SELECT SRC.key, sum(SUBSTR(SRC.value,5)) GROUP BY SRC.key
           INSERT OVERWRITE TABLE $d2 SELECT SRC.key, sum(SUBSTR(SRC.value,5)) GROUP BY SRC.key""")
      HiveQl.sql(s,
        s"""SELECT t.src AS src, t.key AS key, t.value AS value FROM (
            SELECT 1 AS src, key, value FROM $d1
            UNION ALL SELECT 2 AS src, key, value FROM $d2) t
            ORDER BY src, key""")
    }, s"""$SrcCte, agg AS (
        SELECT CAST(key AS INT) AS key,
               CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS VARCHAR) AS value
        FROM src GROUP BY key)
      SELECT src, key, value FROM (
        SELECT 1 AS src, key, value FROM agg
        UNION ALL SELECT 2 AS src, key, value FROM agg) t
      ORDER BY src, key""")),
    "g8" -> (((s: SparkSession, dir: String, tag: String) => {
      val sfx = fixtures(s, dir)
      val (d1, d2) = (s"dest_${tag}a_$sfx", s"dest_${tag}b_$sfx")
      fresh(s, d1, d2)
      HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
      HiveQl.sql(s, s"CREATE TABLE $d2(key INT, value STRING) STORED AS TEXTFILE")
      HiveQl.sql(s,
        s"""FROM SRC
           INSERT OVERWRITE TABLE $d1 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key
           INSERT OVERWRITE TABLE $d2 SELECT SRC.key, COUNT(DISTINCT SUBSTR(SRC.value,5)) GROUP BY SRC.key""")
      HiveQl.sql(s,
        s"""SELECT t.src AS src, t.key AS key, t.value AS value FROM (
            SELECT 1 AS src, key, value FROM $d1
            UNION ALL SELECT 2 AS src, key, value FROM $d2) t
            ORDER BY src, key""")
    }, s"""$SrcCte, agg AS (
        SELECT CAST(key AS INT) AS key,
               CAST(count(DISTINCT substr(value, 5)) AS VARCHAR) AS value
        FROM src GROUP BY key)
      SELECT src, key, value FROM (
        SELECT 1 AS src, key, value FROM agg
        UNION ALL SELECT 2 AS src, key, value FROM agg) t
      ORDER BY src, key""")))

  /** (qname, family, map.aggr, skewindata, checkinterval-nomap). */
  private lazy val GbVariants: Seq[(String, String, Boolean, Boolean, Boolean)] = Seq(
    ("q317_qf_groupby1_map", "g1", true, false, false),
    ("q318_qf_groupby1_map_nomap", "g1", true, false, true),
    ("q319_qf_groupby1_map_skew", "g1", true, true, false),
    ("q320_qf_groupby1_noskew", "g1", false, false, false),
    ("q321_qf_groupby2_map", "g2", true, false, false),
    ("q322_qf_groupby2_map_skew", "g2", true, true, false),
    ("q323_qf_groupby2_noskew", "g2", false, false, false),
    ("q324_qf_groupby2_noskew_multi_distinct", "g2md", false, false, false),
    ("q325_qf_groupby3_map", "g3", true, false, false),
    ("q326_qf_groupby3_map_skew", "g3", true, true, false),
    ("q327_qf_groupby3_noskew", "g3", false, false, false),
    ("q328_qf_groupby3_map_multi_distinct", "g3md", true, false, false),
    ("q329_qf_groupby3_noskew_multi_distinct", "g3md", false, false, false),
    ("q330_qf_groupby4_map", "g4count", true, false, false),
    ("q331_qf_groupby4_map_skew", "g4count", true, true, false),
    ("q332_qf_groupby4_noskew", "g4sub", false, false, false),
    ("q333_qf_groupby5_map", "g5sumkey", true, false, false),
    ("q334_qf_groupby5_map_skew", "g5sumkey", true, true, false),
    ("q335_qf_groupby5_noskew", "g5ins", false, false, false),
    ("q336_qf_groupby6_map", "g6dist", true, false, false),
    ("q337_qf_groupby6_map_skew", "g6dist", true, true, false),
    ("q338_qf_groupby6_noskew", "g6dist", false, false, false),
    ("q339_qf_groupby7_map", "g7", true, false, false),
    ("q340_qf_groupby7_map_skew", "g7", true, true, false),
    ("q341_qf_groupby7_noskew", "g7", false, false, false),
    ("q342_qf_groupby8_map", "g8", true, false, false),
    ("q343_qf_groupby8_map_skew", "g8", true, true, false),
    ("q344_qf_groupby8_noskew", "g8", false, false, false))

  private lazy val GbVariantDefs: Seq[QueryDef] = GbVariants.map {
    case (qn, fam, aggr, skew, nomap) =>
      val (body, oracle) = GbFamilies(fam)
      val tag = qn.substring(1, 4) // q317 -> "317", unique dest prefix
      QueryDef(qn, (s, dir) => {
        gbSets(s, aggr, skew, nomap)
        body(s, dir, s"v$tag")
      }, Some(oracle))
  }
}
