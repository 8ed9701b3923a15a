package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 19 (round 13): the EXPORT/IMPORT family
  * (exim_00–exim_24; ExportSemanticAnalyzer/ImportSemanticAnalyzer) over
  * the dept/employee fixture shapes — empty exports, partitioned and
  * partial-spec exports, imports into fresh databases, into existing
  * compatible tables (non-overlapping partitions), renamed targets
  * (IMPORT TABLE newname), EXTERNAL imports with and without LOCATION,
  * and the auth-wrapped variants (GRANT before export/import).
  *
  * The `.q`s' `!rm -rf <dir>` + re-SELECT probes check WHERE the imported
  * table's storage lives (external = inside the export / at the named
  * location; managed = the warehouse copy). Spark errors on scans over a
  * removed root rather than returning Hive's empty set, so those probes
  * are pinned here as location-binding facts (table location inside /
  * outside the export dir) plus rm-then-count where the read stays legal.
  * Not covered (noted): exim_04_evolved_parts.q (ALTER ... SET FILEFORMAT
  * INPUTFORMAT/OUTPUTFORMAT mid-evolution), exim_15/16/17/20 (partition
  * imports bound to per-partition LOCATIONs).
  */
object QFileParity19 extends QueryModule {

  import QFileParity.{fixtures, fresh, TestDat, rmrf, exportDir, loadEmp, dumpEmp, inImporterDb,
    empLegSql}
  import QFileParity.Pairs.{facts, ordered}

  private val DeptRows = (1 to 6)

  private def deptDdl(t: String): String =
    s"""create table $t ( dep_id int comment "department id")
        stored as textfile tblproperties("creator"="krishna")"""

  private def empDdl(t: String): String =
    s"""create table $t ( emp_id int comment "employee id")
        comment "employee table"
        partitioned by (emp_country string comment "two char iso code",
                        emp_state string comment "free text")
        stored as textfile tblproperties("creator"="krishna")"""

  private def loadDept(s: SparkSession, t: String): Unit =
    HiveQl.sql(s, s"""load data local inpath "$TestDat" into table $t""")

  private def dumpDept(s: SparkSession, sec: Int, t: String): DataFrame =
    HiveQl.sql(s, s"select * from $t").select(lit(sec).as("sec"),
      col("dep_id").cast("string").as("c1"),
      lit(null).cast("string").as("c2")).localCheckpoint(true)

  private def locFact(s: SparkSession, sec: Int, t: String, exp: String): DataFrame = {
    val loc = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(t)).location.toString
    facts(s, sec, Seq("loc_in_export" -> loc.contains(
      exp.stripPrefix("file:")).toString))
  }

  private val DeptOracle =
    DeptRows.map(i => s"($i)").mkString("dept(dep_id) AS (VALUES ", ",", ")")

  private def deptLegSql(secs: Seq[Int]): String =
    secs.map(sec =>
      s"SELECT $sec AS sec, CAST(dep_id AS VARCHAR) AS c1, CAST(NULL AS VARCHAR) AS c2 FROM dept")
      .mkString(" UNION ALL ")

  // ---- the nonpartitioned dept flows ------------------------------------

  /** create [+load] → export → drop → import in a fresh db → dump. */
  private def deptRoundTrip(qn: String, qf: String, load: Boolean,
      extraOracle: String = "") = QueryDef(
    s"${qn}_qf_$qf",
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val t = s"exim_department_${qn}_$sfx"
      val exp = exportDir(qn, sfx)
      fresh(s, t); rmrf(s, exp)
      HiveQl.sql(s, deptDdl(t))
      if (load) loadDept(s, t)
      HiveQl.sql(s, s"export table $t to '$exp'")
      HiveQl.sql(s, s"drop table $t")
      inImporterDb(s, qn, sfx) {
        HiveQl.sql(s, s"import from '$exp'")
        val d = dumpDept(s, 0, t)
        rmrf(s, exp) // managed import copied the data: the table still reads
        val c = facts(s, 1, Seq("rows_after_rm_export" ->
          HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(d, c))
      }
    },
    Some {
      val n = if (load) DeptRows.size else 0
      val dump = if (load) deptLegSql(Seq(0)) + " UNION ALL " else ""
      s"""WITH $DeptOracle, legs AS (
          $dump SELECT 1 AS sec, 'rows_after_rm_export' AS c1,
            '$n' AS c2)
          SELECT * FROM legs ORDER BY sec, c1, c2"""
    })

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/exim_00_nonpart_empty.q / exim_01_nonpart.q
    deptRoundTrip("q703", "exim_00_nonpart_empty", load = false),
    deptRoundTrip("q704", "exim_01_nonpart", load = true),

    // ---- clientpositive/exim_02_00_part_empty.q / clientpositive/exim_02_part.q
    QueryDef(
      "q705_qf_exim_02_00_part_empty",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q705_$sfx"
        val exp = exportDir("q705", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q705", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val c = facts(s, 0, Seq("rows" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(c))
        }
      },
      Some("SELECT 0 AS sec, 'rows' AS c1, '0' AS c2")),

    QueryDef(
      "q706_qf_exim_02_part",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q706_$sfx"
        val exp = exportDir("q706", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        loadEmp(s, t, "in", "tn")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q706", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0, Seq("in" -> "tn"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_03_nonpart_over_compat.q: import into an
    //      EXISTING empty compatible table
    QueryDef(
      "q707_qf_exim_03_nonpart_over_compat",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q707_$sfx"
        val exp = exportDir("q707", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q707", sfx) {
          HiveQl.sql(s,
            s"""create table $t ( dep_id int comment "department identifier")
               stored as textfile tblproperties("maker"="krishna")""")
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpDept(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_04_all_part.q: all four partitions round-trip
    QueryDef(
      "q708_qf_exim_04_all_part",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q708_$sfx"
        val exp = exportDir("q708", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q708", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_05_some_part.q: PARTIAL-spec export
    //      (emp_state="ka" takes both countries' ka partitions)
    QueryDef(
      "q709_qf_exim_05_some_part",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q709_$sfx"
        val exp = exportDir("q709", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"""export table $t partition (emp_state="ka") to '$exp'""")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q709", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "ka", "us" -> "ka"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_06_one_part.q: one FULL partition exported
    QueryDef(
      "q710_qf_exim_06_one_part",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q710_$sfx"
        val exp = exportDir("q710", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s,
          s"""export table $t partition (emp_country="in",emp_state="ka") to '$exp'""")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q710", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0, Seq("in" -> "ka"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_07_all_part_over_nonoverlap.q: import into
    //      an existing table already holding a NON-overlapping partition
    QueryDef(
      "q711_qf_exim_07_all_part_over_nonoverlap",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q711_$sfx"
        val exp = exportDir("q711", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q711", sfx) {
          HiveQl.sql(s,
            s"""create table $t ( emp_id int comment "employee id")
               comment "table of employees"
               partitioned by (emp_country string comment "iso code",
                               emp_state string comment "free-form text")
               stored as textfile tblproperties("maker"="krishna")""")
          loadEmp(s, t, "us", "al")
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("us" -> "al", "in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_08_nonpart_rename.q: IMPORT TABLE <newname>
    QueryDef(
      "q712_qf_exim_08_nonpart_rename",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q712_$sfx"
        val t2 = s"exim_imported_dept_q712_$sfx"
        val exp = exportDir("q712", sfx)
        fresh(s, t, t2); rmrf(s, exp)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q712", sfx) {
          // the .q's same-name partitioned decoy proves import targets the
          // RENAMED table, not the existing name
          HiveQl.sql(s,
            s"""create table $t ( dep_id int comment "department id")
               partitioned by (emp_org string)
               stored as textfile tblproperties("creator"="krishna")""")
          HiveQl.sql(s, s"""load data local inpath "$TestDat"
            into table $t partition (emp_org="hr")""")
          HiveQl.sql(s, s"import table $t2 from '$exp'")
          val d = dumpDept(s, 0, t2)
          HiveQl.sql(s, s"drop table $t2")
          HiveQl.sql(s, s"drop table $t")
          rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_09_part_spec_nonoverlap.q: import ONE
    //      partition from a full export into a table holding others
    QueryDef(
      "q713_qf_exim_09_part_spec_nonoverlap",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q713_$sfx"
        val exp = exportDir("q713", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q713", sfx) {
          HiveQl.sql(s, empDdl(t))
          loadEmp(s, t, "in", "tn"); loadEmp(s, t, "in", "ka")
          HiveQl.sql(s, s"""import table $t partition
            (emp_country="us", emp_state="tn") from '$exp'""")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "tn", "in" -> "ka", "us" -> "tn"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_10_external_managed.q: EXTERNAL source,
    //      plain import → MANAGED copy (survives removing both sources)
    QueryDef(
      "q714_qf_exim_10_external_managed",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q714_$sfx"
        val exp = exportDir("q714", sfx)
        val store = s"/tmp/graft_exim/store_q714_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s,
          s"""create external table $t ( dep_id int comment "department id")
             stored as textfile location '$store'
             tblproperties("creator"="krishna")""")
        loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t"); rmrf(s, store)
        inImporterDb(s, "q714", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpDept(s, 0, t)
          rmrf(s, exp) // managed import: the copy survives
          val c = facts(s, 1, Seq("rows_after_rm" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t")
          ordered(Seq(d, c))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))}
          UNION ALL SELECT 1, 'rows_after_rm', '6')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_11_managed_external.q: IMPORT EXTERNAL with
    //      no LOCATION — storage binds INSIDE the export directory
    QueryDef(
      "q715_qf_exim_11_managed_external",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q715_$sfx"
        val exp = exportDir("q715", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q715", sfx) {
          HiveQl.sql(s, s"import external table $t from '$exp'")
          val d = dumpDept(s, 0, t)
          val f = locFact(s, 1, t, exp) // external contract: data in export
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d, f))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))}
          UNION ALL SELECT 1, 'loc_in_export', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_12_external_location.q /
    //      clientpositive/exim_13_managed_location.q: LOCATION-bound imports
    QueryDef(
      "q716_qf_exim_12_external_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q716_$sfx"
        val exp = exportDir("q716", sfx)
        val store = s"/tmp/graft_exim/store_q716_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q716", sfx) {
          HiveQl.sql(s,
            s"import external table $t from '$exp' location '$store'")
          val d = dumpDept(s, 0, t)
          rmrf(s, exp) // data lives at the LOCATION, not the export
          val c = facts(s, 1, Seq("rows_after_rm_export" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          val f = locFact(s, 2, t, store)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, store)
          ordered(Seq(d, c, f))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))}
          UNION ALL SELECT 1, 'rows_after_rm_export', '6'
          UNION ALL SELECT 2, 'loc_in_export', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q717_qf_exim_13_managed_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q717_$sfx"
        val exp = exportDir("q717", sfx)
        val store = s"/tmp/graft_exim/store_q717_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q717", sfx) {
          HiveQl.sql(s, s"import table $t from '$exp' location '$store'")
          val d = dumpDept(s, 0, t)
          rmrf(s, exp)
          val c = facts(s, 1, Seq("rows_after_rm_export" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          val f = locFact(s, 2, t, store)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, store)
          ordered(Seq(d, c, f))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))}
          UNION ALL SELECT 1, 'rows_after_rm_export', '6'
          UNION ALL SELECT 2, 'loc_in_export', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_14_managed_location_over_existing.q: the
    //      location import repeated over the same warehouse path
    QueryDef(
      "q718_qf_exim_14_managed_location_over_existing",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q718_$sfx"
        val exp = exportDir("q718", sfx)
        val store = s"/tmp/graft_exim/store_q718_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, deptDdl(t)); loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q718", sfx) {
          HiveQl.sql(s, s"import table $t from '$exp' location '$store'")
          val d = dumpDept(s, 0, t)
          val f = locFact(s, 1, t, store)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp); rmrf(s, store)
          ordered(Seq(d, f))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))}
          UNION ALL SELECT 1, 'loc_in_export', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_18_part_external.q: EXTERNAL partition-spec
    //      import, storage inside the export
    QueryDef(
      "q719_qf_exim_18_part_external",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q719_$sfx"
        val exp = exportDir("q719", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q719", sfx) {
          HiveQl.sql(s, s"""import external table $t partition
            (emp_country="us", emp_state="tn") from '$exp'""")
          val d = dumpEmp(s, 0, t)
          val f = locFact(s, 1, t, exp)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d, f))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0, Seq("us" -> "tn"))}
          UNION ALL SELECT 1, 'loc_in_export', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_19_00_part_external_location.q /
    //      clientpositive/exim_19_part_external_location.q: whole-table external import
    //      at a named location (19_00 = two partitions, 19 = all four)
    QueryDef(
      "q720_qf_exim_19_00_part_external_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q720_$sfx"
        val exp = exportDir("q720", sfx)
        val store = s"/tmp/graft_exim/store_q720_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, empDdl(t))
        loadEmp(s, t, "in", "tn"); loadEmp(s, t, "in", "ka")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q720", sfx) {
          HiveQl.sql(s,
            s"import external table $t from '$exp' location '$store'")
          val d = dumpEmp(s, 0, t)
          rmrf(s, exp)
          val c = facts(s, 1, Seq("rows_after_rm_export" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t"); rmrf(s, store)
          ordered(Seq(d, c))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "tn", "in" -> "ka"))}
          UNION ALL SELECT 1, 'rows_after_rm_export', '12')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q721_qf_exim_19_part_external_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q721_$sfx"
        val exp = exportDir("q721", sfx)
        val store = s"/tmp/graft_exim/store_q721_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q721", sfx) {
          HiveQl.sql(s,
            s"import external table $t from '$exp' location '$store'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp); rmrf(s, store)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_21..24 (authsuccess family): the same flows
    //      under GRANTs with authorization enabled surfaces
    QueryDef(
      "q722_qf_exim_21_export_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q722_$sfx"
        val exp = exportDir("q722", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        loadDept(s, t)
        HiveQl.sql(s, s"grant Select on table $t to user hive_test_user")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        val ok = facts(s, 0, Seq("exported" -> {
          val p = new org.apache.hadoop.fs.Path(exp, "_metadata")
          p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p).toString
        }))
        rmrf(s, exp)
        ordered(Seq(ok))
      },
      Some("SELECT 0 AS sec, 'exported' AS c1, 'true' AS c2")),

    QueryDef(
      "q723_qf_exim_22_import_exist_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q723_$sfx"
        val exp = exportDir("q723", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q723", sfx) {
          HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
          HiveQl.sql(s, s"grant Alter on table $t to user hive_test_user")
          HiveQl.sql(s, s"grant Update on table $t to user hive_test_user")
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpDept(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q724_qf_exim_23_import_part_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q724_$sfx"
        val exp = exportDir("q724", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, empDdl(t))
        loadEmp(s, t, "in", "tn")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q724", sfx) {
          HiveQl.sql(s, empDdl(t))
          HiveQl.sql(s, s"grant Alter on table $t to user hive_test_user")
          HiveQl.sql(s, s"grant Update on table $t to user hive_test_user")
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpEmp(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0, Seq("in" -> "tn"))})
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q725_qf_exim_24_import_nonexist_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q725_$sfx"
        val exp = exportDir("q725", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        loadDept(s, t)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q725", sfx) {
          HiveQl.sql(s, s"grant Create on database importer_q725_$sfx to user hive_test_user")
          HiveQl.sql(s, s"import from '$exp'")
          val d = dumpDept(s, 0, t)
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(d))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${deptLegSql(Seq(0))})
          SELECT * FROM legs ORDER BY sec, c1, c2"""))
  )
}
