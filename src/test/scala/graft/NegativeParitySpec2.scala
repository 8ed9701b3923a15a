package graft

import org.apache.spark.sql.SparkSession
import graft.operators.QFileParity.{RefData, RefScripts, TestDat}

/** clientnegative parity battery, tranche 2 — EXPORT/IMPORT compatibility
  * refusals (ImportSemanticAnalyzer.checkTable/checkPaths), authorization
  * failures, dynamic-partition checks, and the remaining semantic-analysis
  * families. Same harness contract as [[NegativeParitySpec]].
  */
class NegativeParitySpec2 extends SparkSpec {

  private val sf = SparkTestSession.sf001

  private def freshSession(): SparkSession = {
    val s = Sessions.isolatedClone(spark)
    operators.QFileParity.registerFixtures(s, sf)
    s
  }

  private def run(s: SparkSession, stmts: String*): Unit =
    stmts.foreach(st => HiveQl.sql(s, st).collect())

  private def rmrf(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def purge(s: SparkSession, stmts: Seq[String]): Unit = {
    val names = stmts.flatMap("""\b(\w+_neg2)\b""".r.findAllMatchIn(_))
      .map(_.group(1).toLowerCase).distinct
    names.foreach { t =>
      try s.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Exception =>
        try s.sql(s"DROP VIEW IF EXISTS $t") catch { case _: Exception => } }
      try {
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      } catch { case _: Exception => }
    }
  }

  private def refuses(name: String, setup: Seq[String], bad: String,
      frags: String*): Unit =
    test(s"clientnegative/$name.q: refuses") {
      val s = freshSession()
      purge(s, setup :+ bad)
      try {
        run(s, setup: _*)
        val e = intercept[Throwable](HiveQl.sql(s, bad).collect())
        val msg = (Option(e.getMessage).getOrElse("") +
          Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")).toLowerCase
        assert(frags.exists(f => msg.contains(f.toLowerCase)),
          s"expected one of ${frags.mkString("|")}, got: $msg")
      } finally {
        try HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        catch { case _: Exception => }
      }
    }

  private def superset(name: String, refRefusal: String, stmts: String*): Unit =
    test(s"clientnegative/$name.q: engine superset (reference: $refRefusal)") {
      val s = freshSession()
      purge(s, stmts)
      run(s, stmts: _*)
    }

  // ---- exim incompatibility family ----------------------------------------
  // common scaffold: export a small textfile table, drop it, re-create an
  // INCOMPATIBLE target, import → refuse.
  private def eximCase(name: String, recreate: Seq[String], importStmt: String,
      frags: String*): Unit =
    test(s"clientnegative/$name.q: refuses") {
      val s = freshSession()
      val dir = s"/tmp/graft_eximneg_$name"
      rmrf(s, dir)
      purge(s, Seq("exim_department_neg2"))
      run(s,
        "create table exim_department_neg2 (dep_id int) stored as textfile",
        s"load data local inpath '$TestDat' into table exim_department_neg2",
        s"export table exim_department_neg2 to '$dir'",
        "drop table exim_department_neg2")
      run(s, recreate: _*)
      val e = intercept[Throwable](
        HiveQl.sql(s, importStmt.replace("$DIR", dir)).collect())
      val msg = (Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")).toLowerCase
      rmrf(s, dir)
      try HiveQl.sql(s, "drop table if exists exim_department_neg2")
      catch { case _: Exception => }
      assert(frags.exists(f => msg.contains(f.toLowerCase)),
        s"expected one of ${frags.mkString("|")}, got: $msg")
    }

  refuses("exim_00_unsupported_schema",
    Seq("drop table if exists exim_department_neg2",
      "create table exim_department_neg2 (dep_id int) stored as textfile",
      s"load data local inpath '$TestDat' into table exim_department_neg2"),
    "export table exim_department_neg2 to " +
      "'nosuchschema://nosuchauthority/tmp/exports/exim_department'",
    "No FileSystem for scheme", "UnsupportedFileSystem", "not supported",
    "unsupported")

  eximCase("exim_01_nonpart_over_loaded",
    Seq("create table exim_department_neg2 (dep_id int) stored as textfile",
      s"load data local inpath '$TestDat' into table exim_department_neg2"),
    "import from '$DIR'",
    "Table exists and contains data files")

  eximCase("exim_03_nonpart_noncompat_colschema",
    Seq("create table exim_department_neg2 (dep_key int) stored as textfile"),
    "import from '$DIR'",
    "cannot be resolved", "UNRESOLVED", "not compatible", "dep_id")

  eximCase("exim_05_nonpart_noncompat_coltype",
    Seq("create table exim_department_neg2 (dep_id bigint) stored as textfile"),
    "import from '$DIR'",
    "Column Schema does not match")

  eximCase("exim_06_nonpart_noncompat_storage",
    Seq("create table exim_department_neg2 (dep_id int) stored as rcfile"),
    "import from '$DIR'",
    "inputformat/outputformats do not match")

  eximCase("exim_10_nonpart_noncompat_bucketing",
    Seq("create table exim_department_neg2 (dep_id int) " +
      "clustered by (dep_id) into 10 buckets stored as textfile"),
    "import from '$DIR'",
    "bucketing spec does not match")

  eximCase("exim_15_part_nonpart",
    Seq("create table exim_department_neg2 (dep_id int) " +
      "partitioned by (dep_org string) stored as textfile"),
    "import from '$DIR'",
    "Partition Schema does not match")

  eximCase("exim_19_external_over_existing",
    Seq("create table exim_department_neg2 (dep_id int) stored as textfile"),
    "import external table exim_department_neg2 from '$DIR'",
    "External table cannot overwrite existing table")

  // partitioned export, partition-spec mismatches
  private def eximPartCase(name: String, importStmt: String, frags: String*): Unit =
    test(s"clientnegative/$name.q: refuses") {
      val s = freshSession()
      val dir = s"/tmp/graft_eximneg_$name"
      rmrf(s, dir)
      purge(s, Seq("exim_employee_neg2"))
      run(s,
        "create table exim_employee_neg2 (emp_id int) " +
          "partitioned by (emp_country string, emp_state string) stored as textfile",
        s"load data local inpath '$TestDat' into table exim_employee_neg2 " +
          "partition (emp_country='in', emp_state='tn')",
        s"load data local inpath '$TestDat' into table exim_employee_neg2 " +
          "partition (emp_country='us', emp_state='ka')",
        s"export table exim_employee_neg2 to '$dir'",
        "drop table exim_employee_neg2")
      val e = intercept[Throwable](
        HiveQl.sql(s, importStmt.replace("$DIR", dir)).collect())
      val msg = (Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")).toLowerCase
      rmrf(s, dir)
      try HiveQl.sql(s, "drop table if exists exim_employee_neg2")
      catch { case _: Exception => }
      assert(frags.exists(f => msg.contains(f.toLowerCase)),
        s"expected one of ${frags.mkString("|")}, got: $msg")
    }

  eximPartCase("exim_17_part_spec_underspec",
    "import table exim_employee_neg2 partition (emp_country='us') from '$DIR'",
    "Specified partition not found in import directory")

  eximPartCase("exim_18_part_spec_missing",
    "import table exim_employee_neg2 partition " +
      "(emp_country='us', emp_state='kl') from '$DIR'",
    // spec names all partition columns but matches no exported rows — the
    // engine's slice filter yields an empty import, the reference refuses;
    // engine refusal comes from the all-values check in checkPaths parity
    "Specified partition not found in import directory")

  // exim_02: partition already present in the target
  test("clientnegative/exim_02_all_part_over_overlap.q: refuses") {
    val s = freshSession()
    val dir = "/tmp/graft_eximneg_02_overlap"
    rmrf(s, dir)
    purge(s, Seq("exim_employee_neg2"))
    run(s,
      "create table exim_employee_neg2 (emp_id int) " +
        "partitioned by (emp_country string, emp_state string) stored as textfile",
      s"load data local inpath '$TestDat' into table exim_employee_neg2 " +
        "partition (emp_country='us', emp_state='ka')",
      s"export table exim_employee_neg2 to '$dir'")
    val e = intercept[Throwable](HiveQl.sql(s,
      s"import table exim_employee_neg2 partition " +
        s"(emp_country='us', emp_state='ka') from '$dir'").collect())
    val msg = Option(e.getMessage).getOrElse("").toLowerCase
    rmrf(s, dir)
    try HiveQl.sql(s, "drop table if exists exim_employee_neg2")
    catch { case _: Exception => }
    assert(msg.contains("partition already exists"), s"got: $msg")
  }

  // ---- authorization failures ----------------------------------------------
  refuses("authorization_fail_2",
    Seq("drop table if exists authorization_fail_2_neg2",
      "create table authorization_fail_2_neg2 (key int, value string) " +
        "partitioned by (ds string)",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    "alter table authorization_fail_2_neg2 add partition (ds='2010')",
    "No privilege 'Create' found")

  refuses("authorization_fail_3",
    Seq("drop table if exists authorization_fail_3_neg2",
      "create table authorization_fail_3_neg2 (key int, value string) " +
        "partitioned by (ds string)",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user",
      "grant Create on table authorization_fail_3_neg2 to user hive_test_user",
      "alter table authorization_fail_3_neg2 add partition (ds='2010')"),
    "select key from authorization_fail_3_neg2 where ds='2010'",
    "No privilege 'Select' found")

  refuses("authorization_fail_5",
    Seq("drop table if exists authorization_fail_5_neg2",
      "create table authorization_fail_5_neg2 (key int, value string) " +
        "partitioned by (ds string)",
      "grant Alter on table authorization_fail_5_neg2 to user hive_test_user",
      "ALTER TABLE authorization_fail_5_neg2 SET TBLPROPERTIES " +
        "(\"PARTITION_LEVEL_PRIVILEGE\"=\"TRUE\")",
      "grant Create on table authorization_fail_5_neg2 to user hive_test_user",
      "grant Select on table authorization_fail_5_neg2 to user hive_test_user",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user",
      "alter table authorization_fail_5_neg2 add partition (ds='2010')",
      "revoke Select on table authorization_fail_5_neg2 partition (ds='2010') " +
        "from user hive_test_user"),
    "select key from authorization_fail_5_neg2 where ds='2010'",
    "partitionName:ds=2010")

  refuses("authorization_fail_7",
    Seq("drop table if exists authorization_fail_7_neg2",
      "create table authorization_fail_7_neg2 (key int, value string)",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user",
      "create role hive_test_role_fail_neg2_r",
      "grant role hive_test_role_fail_neg2_r to user hive_test_user",
      "grant select on table authorization_fail_7_neg2 to role hive_test_role_fail_neg2_r",
      "drop role hive_test_role_fail_neg2_r"),
    "select key from authorization_fail_7_neg2",
    "No privilege 'Select' found")

  refuses("load_nonpart_authfail",
    Seq("drop table if exists hive_test_src_lnaf_neg2",
      "create table hive_test_src_lnaf_neg2 (col1 string) stored as textfile",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    s"load data local inpath '$TestDat' overwrite into table hive_test_src_lnaf_neg2",
    "No privilege 'Update' found")

  refuses("load_part_authfail",
    Seq("drop table if exists hive_test_src_lpaf_neg2",
      "create table hive_test_src_lpaf_neg2 (col1 string) " +
        "partitioned by (pcol1 string) stored as textfile",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    s"load data local inpath '$TestDat' overwrite into table " +
      "hive_test_src_lpaf_neg2 partition (pcol1='test_part')",
    "No privilege 'Update' found")

  test("clientnegative/exim_22_export_authfail.q: refuses") {
    val s = freshSession()
    val dir = s"/tmp/graft_eximneg_authfail_${java.util.UUID.randomUUID.toString.take(8)}"
    purge(s, Seq("exim_department_eaf_neg2"))
    try {
      run(s,
        "create table exim_department_eaf_neg2 (dep_id int) stored as textfile",
        "set hive.security.authorization.enabled=true",
        "set hive.session.user=hive_test_user")
      val e = intercept[Throwable](HiveQl.sql(s,
        s"export table exim_department_eaf_neg2 to '$dir'").collect())
      assert(Option(e.getMessage).getOrElse("").contains("No privilege 'Select' found"))
    } finally {
      try HiveQl.sql(s, "set hive.security.authorization.enabled=false")
      catch { case _: Exception => }
      rmrf(s, dir)
    }
  }

  // ---- dynamic partitions --------------------------------------------------
  refuses("dyn_part1",
    Seq("set hive.exec.dynamic.partition=true",
      "drop table if exists dynamic_partition_neg2",
      "create table dynamic_partition_neg2 (key string) partitioned by (value string)"),
    "insert overwrite table dynamic_partition_neg2 partition(hr) " +
      "select key, value from src",
    "hr", "not a partition column", "PARTITION_COLUMN", "Non-Partition")

  refuses("dyn_part2",
    Seq("drop table if exists nzhang_part1_neg2",
      "create table nzhang_part1_neg2 (key string, value string) " +
        "partitioned by (ds string, hr string)",
      "set hive.exec.dynamic.partition=true"),
    "insert overwrite table nzhang_part1_neg2 partition(ds='11', hr) " +
      "select key, value from srcpart where ds is not null",
    "number", "column", "not enough data columns", "mismatch")

  refuses("nopart_insert",
    Seq("drop table if exists nopart_insert_neg2",
      "create table nopart_insert_neg2 (a string, b string) " +
        "partitioned by (ds string)"),
    "INSERT OVERWRITE TABLE nopart_insert_neg2 " +
      "SELECT src.key, src.value FROM src",
    "partition", "PARTITION_SPEC", "number", "column")

  refuses("nopart_load",
    Seq("drop table if exists nopart_load_neg2",
      "create table nopart_load_neg2 (a string) " +
        "partitioned by (ds string) stored as textfile"),
    s"load data local inpath '$RefData/kv1.txt' " +
      "overwrite into table nopart_load_neg2",
    "Need to specify partition columns")

  // ---- analysis families -----------------------------------------------
  refuses("clustern1", Nil,
    "SELECT x.key as key FROM (SELECT * FROM src a JOIN src b ON a.key=b.key) x " +
      "CLUSTER BY key",
    "ambiguous", "AMBIGUOUS", "cannot resolve")

  refuses("clustern3", Nil,
    "SELECT x.key FROM (SELECT value FROM src) x CLUSTER BY key",
    "cannot resolve", "UNRESOLVED", "Invalid column")

  refuses("clustern4", Nil,
    "SELECT x.key FROM (SELECT key FROM src) x DISTRIBUTE BY value",
    "cannot resolve", "UNRESOLVED", "Invalid")

  refuses("semijoin1", Nil,
    "SELECT b.value FROM src a LEFT SEMI JOIN src b ON (a.key = b.key)",
    "cannot resolve", "UNRESOLVED", "Invalid")

  refuses("semijoin4", Nil,
    "SELECT a.key FROM src a LEFT SEMI JOIN src b ON (a.key = b.key) " +
      "WHERE b.value = 'val_18'",
    "cannot resolve", "UNRESOLVED", "Invalid")

  refuses("input41",
    Seq("set hive.mapred.mode=strict"),
    "select * from (select * from src union all select key from src) subq",
    "union", "number of columns", "NUM_COLUMNS_MISMATCH")

  refuses("union2", Nil,
    "select count(1) from (select key, value from src union all " +
      "select key, array(value) v from src) subq",
    "compatible", "union", "INCOMPATIBLE_COLUMN_TYPE", "data type")

  refuses("uniquejoin", Nil,
    "FROM UNIQUEJOIN (SELECT src.key from src) a (a.key), src b (b.key) " +
      "SELECT a.key",
    "Subqueries are not supported in UNIQUEJOIN", "UNIQUEJOIN", "PARSE",
    "syntax", "cannot recognize", "expecting")

  refuses("uniquejoin2", Nil,
    "FROM UNIQUEJOIN src a (a.key), src b (b.key, b.value) SELECT a.key",
    "different or invalid number of keys", "number of keys", "mismatch",
    "same number")

  refuses("regex_col_1", Nil,
    "SELECT `+++` FROM srcpart",
    "Dangling meta character", "cannot be resolved", "Invalid", "PARSE")

  refuses("regex_col_2", Nil,
    "SELECT `.a.` FROM srcpart",
    "Invalid column", "cannot resolve", "UNRESOLVED")

  refuses("describe_xpath1", Nil,
    "describe src_thrift.lint.abc",
    "cannot find field", "not found", "no such", "Invalid")

  refuses("describe_xpath2", Nil,
    "describe src_thrift.mstringstring.abc",
    "cannot find field", "not found", "no such", "Invalid")

  refuses("show_tablestatus",
    Seq("drop table if exists sts_neg2",
      "create table sts_neg2 (key string)"),
    "SHOW TABLE EXTENDED LIKE `sts_neg2` PARTITION(ds='2008-14-08')",
    "not a partitioned table")

  refuses("show_tablestatus_not_existing_part",
    Seq("drop table if exists stsp_neg2",
      "create table stsp_neg2 (key string) partitioned by (ds string)",
      "alter table stsp_neg2 add partition (ds='1')"),
    "SHOW TABLE EXTENDED LIKE `stsp_neg2` PARTITION(ds='2008-14-08')",
    "does not exist")

  refuses("alter_view_failure3", Nil,
    "ALTER VIEW graft_qf_orders ADD PARTITION (ds='2012-12-31')",
    "not a view", "EXPECT_VIEW", "cannot alter", "table")

  refuses("analyze",
    Seq("drop table if exists analyze_neg2",
      "create table analyze_neg2 (key string) partitioned by (ds string)",
      "alter table analyze_neg2 add partition (ds='1')"),
    "analyze table analyze_neg2 compute statistics",
    // the reference wants an explicit partition spec on partitioned tables
    "partition", "specification")

  // ---- script failures -------------------------------------------------
  refuses("script_error", Nil,
    "SELECT TRANSFORM(src.key, src.value) USING " +
      s"'$RefScripts/error_script' AS (tkey, tvalue) FROM src",
    "error", "non-zero", "failed", "exit")

  // ---- engine supersets (the reference's capability limits) ---------------
  superset("having1", "HAVING specified without GROUP BY",
    "SELECT count(1) FROM src HAVING count(1) > 0")

  superset("union", "Top level UNION is not supported",
    "select key from src union all select key from src")

  superset("union3",
    "Schema of both sides of union should match (named struct fields)",
    "select count(1) from (select key, struct(1, 2) s from src union all " +
      "select key, struct(3, 4) s from src) subq")

  superset("udtf_explode_not_supported1",
    "GROUP BY is not supported with a UDTF in the SELECT clause",
    "SELECT explode(array(key, value)) AS x FROM src GROUP BY key, value")

  superset("udtf_not_supported2", "UDTF's require an AS clause",
    "SELECT explode(array(1,2,3)) FROM src LIMIT 3")

  superset("groupby2_multi_distinct",
    "DISTINCT on different columns not supported with skew in data",
    Seq("set hive.groupby.skewindata=true",
      "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
        "count(DISTINCT substr(src.key,1,1)) FROM src " +
        "GROUP BY substr(src.key,1,1)"): _*)

  superset("join2", "MAPJOIN cannot be performed with OUTER JOIN",
    "SELECT /*+ MAPJOIN(x) */ count(1) FROM src x LEFT OUTER JOIN src y " +
      "ON (x.key = y.key)")

  superset("invalid_t_create2",
    "DATE type not supported in Hive 0.8 (use TIMESTAMP)",
    Seq("drop table if exists t_date_neg2",
      "create table t_date_neg2 (d date)",
      "drop table t_date_neg2"): _*)

  superset("select_udtf_alias",
    "Parse error: UDTF with LIMIT and AS-alias",
    "SELECT explode(array(1,2,3)) AS myCol FROM src LIMIT 3")

  superset("analyze1",
    "Non-Partition column in ANALYZE partition spec refused at analysis",
    Seq("drop table if exists analyze1_neg2",
      "create table analyze1_neg2 (key string) partitioned by (ds string)",
      "alter table analyze1_neg2 add partition (ds='1')",
      "analyze table analyze1_neg2 partition (ds) compute statistics",
      "drop table analyze1_neg2"): _*)
}
