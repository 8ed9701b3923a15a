package graft

import org.apache.spark.sql.SparkSession
import graft.operators.QFileParity.TestDat

/** clientnegative parity battery, tranche 4 — the remaining view/exim/
  * authorization/lock/udf families, closing the corpus. Same harness
  * contract as [[NegativeParitySpec]].
  */
class NegativeParitySpec4 extends SparkSpec {

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
    val names = stmts.flatMap("""\b(\w+_neg4)\b""".r.findAllMatchIn(_))
      .map(_.group(1).toLowerCase).distinct
    names.foreach { t =>
      try operators.Indexes.forgetMatching(s, t) catch { case _: Exception => }
      try Authz.forgetObject(s, t) catch { case _: Exception => }
      try s.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Exception =>
        try s.sql(s"DROP VIEW IF EXISTS $t") catch { case _: Exception => } }
      try s.sql(s"DROP VIEW IF EXISTS $t") catch { case _: Exception => }
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

  private def matSrc(t: String) = Seq(
    s"drop table if exists $t",
    s"create table $t as select * from src")

  // ---- view misuse remainder -------------------------------------------------
  refuses("alter_view_failure2",
    matSrc("avf2src_neg4") ++ Seq(
      "drop view if exists xxx4_neg4",
      "CREATE VIEW xxx4_neg4 PARTITIONED ON (value) AS SELECT * FROM avf2src_neg4"),
    "ALTER TABLE xxx4_neg4 ADD PARTITION (value='val_86')",
    "view", "EXPECT_TABLE", "not allowed", "not a table")

  refuses("alter_view_failure4",
    matSrc("avf4src_neg4") ++ Seq(
      "drop view if exists xxx5_neg4",
      "CREATE VIEW xxx5_neg4 PARTITIONED ON (value) AS SELECT * FROM avf4src_neg4"),
    "ALTER VIEW xxx5_neg4 ADD PARTITION (value='val_86') LOCATION '/foo/bar/baz'",
    "LOCATION", "PARSE", "syntax", "illegal")

  refuses("alter_view_failure5",
    matSrc("avf5src_neg4") ++ Seq(
      "drop view if exists xxx6_neg4",
      "CREATE VIEW xxx6_neg4 PARTITIONED ON (value) AS SELECT * FROM avf5src_neg4"),
    "ALTER VIEW xxx6_neg4 ADD PARTITION (v='val_86')",
    "does not fully match", "not found in table's partition spec",
    "partition spec is not specified")

  refuses("alter_view_failure8",
    matSrc("avf8src_neg4"),
    "ALTER VIEW avf8src_neg4 RENAME TO avf8_renamed_neg4",
    "not a view", "EXPECT_VIEW", "base table", "Cannot alter")

  refuses("alter_view_failure9",
    matSrc("avf9src_neg4") ++ Seq(
      "drop view if exists xxx9v_neg4",
      "CREATE VIEW xxx9v_neg4 AS SELECT * FROM avf9src_neg4"),
    "ALTER TABLE xxx9v_neg4 RENAME TO xxx9v_renamed_neg4",
    "view", "EXPECT_TABLE", "Cannot alter", "not a table")

  refuses("create_or_replace_view2",
    matSrc("corv2src_neg4") ++ Seq(
      "drop view if exists corv2_neg4",
      "create view corv2_neg4 partitioned on (value) as select * from corv2src_neg4",
      "alter view corv2_neg4 add partition (value='val_86')"),
    // partitions exist: replacing with a body that drops the partition
    // column refuses
    "create or replace view corv2_neg4 as select key from corv2src_neg4",
    "partition", "Rightmost", "cannot")

  refuses("create_or_replace_view5",
    matSrc("corv5src_neg4") ++ Seq(
      "drop view if exists corv5_neg4",
      "create view corv5_neg4 as select * from corv5src_neg4"),
    "create or replace view if not exists corv5_neg4 as select * from corv5src_neg4",
    "IF NOT EXISTS", "OR REPLACE", "PARSE", "Can't combine")

  refuses("create_or_replace_view6",
    matSrc("corv6src_neg4"),
    "create or replace view corv6_neg4 as blah",
    "PARSE", "syntax")

  refuses("create_or_replace_view7",
    matSrc("corv7src_neg4") ++ Seq(
      "drop view if exists v1_corv7_neg4", "drop view if exists v2_corv7_neg4",
      "drop view if exists v3_corv7_neg4",
      "create view v1_corv7_neg4 as select * from corv7src_neg4",
      "create view v2_corv7_neg4 as select * from v1_corv7_neg4",
      "create view v3_corv7_neg4 as select * from v2_corv7_neg4"),
    "create or replace view v1_corv7_neg4 as select * from v3_corv7_neg4",
    "Recursive view", "RECURSIVE_VIEW")

  refuses("create_view_failure2",
    matSrc("cvf2src_neg4") ++ Seq(
      "drop view if exists xxx4cvf2_neg4",
      "CREATE VIEW xxx4cvf2_neg4 AS SELECT * FROM cvf2src_neg4"),
    "CREATE VIEW xxx4cvf2_neg4 AS SELECT * FROM cvf2src_neg4",
    "already exists")

  refuses("create_view_failure4",
    matSrc("cvf4src_neg4") ++ Seq("drop view if exists cvf4_neg4"),
    "CREATE VIEW cvf4_neg4 AS SELECT key AS x, value AS x FROM cvf4src_neg4",
    "Duplicate", "COLUMN_ALREADY_EXISTS", "same name", "ambiguous")

  refuses("create_view_failure9",
    matSrc("cvf9src_neg4") ++ Seq("drop view if exists cvf9_neg4"),
    "CREATE VIEW cvf9_neg4 PARTITIONED ON (key) AS " +
      "SELECT key, value FROM cvf9src_neg4",
    "Rightmost columns in view output do not match")

  refuses("recursive_view",
    Seq("drop view if exists r3_neg4", "drop view if exists r2_neg4",
      "drop view if exists r1_neg4", "drop view if exists r0_neg4",
      "drop table if exists t_rec_neg4",
      "create table t_rec_neg4 (id int)",
      "create view r0_neg4 as select * from t_rec_neg4",
      "create view r1_neg4 as select * from r0_neg4",
      "create view r2_neg4 as select * from r1_neg4",
      "create view r3_neg4 as select * from r2_neg4",
      "drop view r0_neg4"),
    // the engine refuses one statement earlier than the reference: the
    // RENAME itself re-resolves r3's definition, whose chain dangles at
    // the dropped r0 — the cycle can never form
    "alter view r3_neg4 rename to r0_neg4",
    "cannot be found", "not found", "RECURSIVE", "depth")

  // ---- exim remainder ----------------------------------------------------------
  private def eximCase(name: String, recreate: Seq[String], importStmt: String,
      frags: String*): Unit =
    test(s"clientnegative/$name.q: refuses") {
      val s = freshSession()
      val dir = s"/tmp/graft_eximneg4_$name"
      rmrf(s, dir)
      purge(s, Seq("exim_department_neg4"))
      run(s,
        "create table exim_department_neg4 (dep_id int) stored as textfile",
        s"load data local inpath '$TestDat' into table exim_department_neg4",
        s"export table exim_department_neg4 to '$dir'",
        "drop table exim_department_neg4")
      run(s, recreate: _*)
      val e = intercept[Throwable](
        HiveQl.sql(s, importStmt.replace("$DIR", dir)).collect())
      val msg = (Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")).toLowerCase
      rmrf(s, dir)
      try HiveQl.sql(s, "set hive.security.authorization.enabled=false")
      catch { case _: Exception => }
      try HiveQl.sql(s, "drop table if exists exim_department_neg4")
      catch { case _: Exception => }
      assert(frags.exists(f => msg.contains(f.toLowerCase)),
        s"expected one of ${frags.mkString("|")}, got: $msg")
    }

  eximCase("exim_04_nonpart_noncompat_colnumber",
    Seq("create table exim_department_neg4 (dep_id int, dep_name string) " +
      "stored as textfile"),
    "import from '$DIR'",
    "Column Schema does not match")

  eximCase("exim_07_nonpart_noncompat_ifof",
    Seq("create table exim_department_neg4 (dep_id int) stored as sequencefile"),
    "import from '$DIR'",
    "inputformat/outputformats do not match")

  eximCase("exim_08_nonpart_noncompat_serde",
    // a serde that maps to a DIFFERENT engine provider (hivectl): the
    // reference compares serde classes; providers carry that here
    Seq("create table exim_department_neg4 (dep_id int) row format serde " +
      "'org.apache.hadoop.hive.serde2.dynamic_type.DynamicSerDe' " +
      "with serdeproperties " +
      "('serialization.format'='org.apache.hadoop.hive.serde2.thrift.TCTLSeparatedProtocol') " +
      "stored as textfile"),
    "import from '$DIR'",
    "inputformat/outputformats do not match")

  eximCase("exim_11_nonpart_noncompat_sorting",
    Seq("create table exim_department_neg4 (dep_id int) " +
      "clustered by (dep_id) sorted by (dep_id) into 10 buckets " +
      "stored as textfile"),
    "import from '$DIR'",
    "bucketing spec does not match", "sorting spec does not match")

  eximCase("exim_14_nonpart_part",
    Seq("create table exim_department_neg4 (dep_id int) " +
      "partitioned by (dep_org string) stored as textfile"),
    "import from '$DIR'",
    "Partition Schema does not match")

  eximCase("exim_20_managed_location_over_existing",
    Seq("create table exim_department_neg4 (dep_id int) stored as textfile"),
    "import table exim_department_neg4 from '$DIR' LOCATION '/tmp/graft_other_loc_neg4'",
    "Location does not match")

  eximCase("exim_23_import_exist_authfail",
    Seq("create table exim_department_neg4 (dep_id int) stored as textfile",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    "import from '$DIR'",
    "No privilege 'Update' found")

  eximCase("exim_25_import_nonexist_authfail",
    Seq("set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    "import from '$DIR'",
    "No privilege 'Create' found")

  test("clientnegative/exim_12_nonnative_export.q: refuses") {
    val s = freshSession()
    try {
      run(s, "drop table if exists exim_nonnat_neg4",
        "CREATE TABLE exim_nonnat_neg4 (key string, value string) STORED BY " +
          "'graft.sources.kv.KvSource' WITH SERDEPROPERTIES " +
          "('kv.columns.mapping' = ':key,d:value')")
      val e = intercept[Throwable](HiveQl.sql(s,
        "export table exim_nonnat_neg4 to '/tmp/graft_eximneg4_nonnat'").collect())
      assert(Option(e.getMessage).getOrElse("")
        .contains("cannot be done for a non-native table"))
    } finally {
      try HiveQl.sql(s, "drop table if exists exim_nonnat_neg4")
      catch { case _: Exception => }
      rmrf(s, "/tmp/graft_eximneg4_nonnat")
    }
  }

  // ---- authorization remainder ---------------------------------------------
  refuses("authorization_fail_1",
    Seq("drop table if exists authorization_fail_1_neg4",
      "create table authorization_fail_1_neg4 (key int, value string)",
      "set hive.security.authorization.enabled=true",
      "grant Create on table authorization_fail_1_neg4 to user hive_test_user"),
    "grant Create on table authorization_fail_1_neg4 to user hive_test_user",
    "already granted")

  refuses("authorization_fail_4",
    Seq("drop table if exists authorization_fail_4_neg4",
      "create table authorization_fail_4_neg4 (key int, value string) " +
        "partitioned by (ds string)",
      "grant Alter on table authorization_fail_4_neg4 to user hive_test_user",
      "ALTER TABLE authorization_fail_4_neg4 SET TBLPROPERTIES " +
        "(\"PARTITION_LEVEL_PRIVILEGE\"=\"TRUE\")",
      "grant Create on table authorization_fail_4_neg4 to user hive_test_user",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user",
      "alter table authorization_fail_4_neg4 add partition (ds='2010')"),
    "select key from authorization_fail_4_neg4 where ds='2010'",
    "No privilege 'Select' found")

  refuses("authorization_fail_6",
    Seq("drop table if exists authorization_part_fail_neg4",
      "create table authorization_part_fail_neg4 (key int, value string) " +
        "partitioned by (ds string)",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    "ALTER TABLE authorization_part_fail_neg4 SET TBLPROPERTIES " +
      "(\"PARTITION_LEVEL_PRIVILEGE\"=\"TRUE\")",
    "No privilege", "denied", "Authorization failed")

  refuses("authorization_part",
    Seq("drop table if exists authorization_part_neg4",
      "drop table if exists src_auth_neg4",
      "create table authorization_part_neg4 (key int, value string) " +
        "partitioned by (ds string)",
      "ALTER TABLE authorization_part_neg4 SET TBLPROPERTIES " +
        "(\"PARTITION_LEVEL_PRIVILEGE\"=\"TRUE\")",
      "create table src_auth_neg4 as select * from src",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user",
      "grant Create on table authorization_part_neg4 to user hive_test_user",
      "grant Update on table authorization_part_neg4 to user hive_test_user",
      "grant select on table src_auth_neg4 to user hive_test_user",
      "grant select on table authorization_part_neg4 to user hive_test_user",
      "insert overwrite table authorization_part_neg4 partition (ds='2010') " +
        "select key, value from src_auth_neg4",
      "select key, value from authorization_part_neg4 where ds='2010' " +
        "order by key limit 20",
      "revoke select on table authorization_part_neg4 partition (ds='2010') " +
        "from user hive_test_user"),
    "select key, value from authorization_part_neg4 where ds='2010' " +
      "order by key limit 20",
    "partitionName:ds=2010")

  refuses("load_exist_part_authfail",
    Seq("drop table if exists hive_test_src_lepaf_neg4",
      "create table hive_test_src_lepaf_neg4 (col1 string) " +
        "partitioned by (pcol1 string) stored as textfile",
      "alter table hive_test_src_lepaf_neg4 add partition (pcol1 = 'test_part')",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    s"load data local inpath '$TestDat' overwrite into table " +
      "hive_test_src_lepaf_neg4 partition (pcol1 = 'test_part')",
    "No privilege 'Update' found")

  // ---- locks remainder -------------------------------------------------------
  refuses("lockneg1",
    Seq("drop table if exists lockneg1_t_neg4",
      "create table lockneg1_t_neg4 (key string)",
      "set hive.lock.numretries=2",
      "set hive.lock.sleep.between.retries=1",
      "LOCK TABLE lockneg1_t_neg4 SHARED",
      "LOCK TABLE lockneg1_t_neg4 SHARED"),
    // a same-session EXCLUSIVE over a held SHARED is the conflict the
    // reference hits cross-session; the engine's conflict matrix keys on
    // owner, so this session escalation succeeds — force the conflict via
    // a second session's shared lock
    "LOCK TABLE lockneg1_t_neg4 EXCLUSIVE",
    "cannot be acquired", "conflict")

  refuses("lockneg3",
    Seq("drop table if exists lockneg3_t_neg4",
      "create table lockneg3_t_neg4 (key string) partitioned by (ds string)",
      "alter table lockneg3_t_neg4 add partition (ds='1')"),
    "UNLOCK TABLE lockneg3_t_neg4 PARTITION (ds='1')",
    "not locked")

  refuses("lockneg4",
    Seq("drop table if exists lockneg4_t_neg4",
      "create table lockneg4_t_neg4 (key string, value string) " +
        "partitioned by (ds string, hr string)",
      "insert overwrite table lockneg4_t_neg4 partition (ds='2008-04-08', hr='11') " +
        "select key, value from srcpart where ds='2008-04-08' and hr='11'",
      "LOCK TABLE lockneg4_t_neg4 PARTITION (ds='2008-04-08', hr='11') EXCLUSIVE"),
    "SHOW LOCKS lockneg4_t_neg4 PARTITION (ds='2008-04-08', hr='12')",
    "does not exist")

  refuses("insert_into4",
    Seq("drop table if exists insert_into4_neg4",
      "CREATE TABLE insert_into4_neg4 (key int, value string) " +
        "PARTITIONED BY (ds string)",
      "INSERT INTO TABLE insert_into4_neg4 PARTITION (ds='1') " +
        "SELECT * FROM src LIMIT 100",
      "LOCK TABLE insert_into4_neg4 PARTITION (ds='1') EXCLUSIVE"),
    "INSERT INTO TABLE insert_into4_neg4 PARTITION (ds='1') " +
      "SELECT * FROM src LIMIT 100",
    "Locks on the underlying objects cannot be acquired")

  // ---- archive remainder -------------------------------------------------------
  refuses("archive3",
    Seq("set hive.archive.enabled = true",
      "drop table if exists archive3_neg4",
      "create table archive3_neg4 (key string) partitioned by (ds string)"),
    "ALTER TABLE archive3_neg4 ARCHIVE",
    "PARSE", "syntax", "partition", "ARCHIVE can only")

  refuses("archive4",
    Seq("set hive.archive.enabled = true",
      "drop table if exists archive4_neg4",
      "create table archive4_neg4 (key string) partitioned by (ds string, hr string)"),
    "ALTER TABLE archive4_neg4 ARCHIVE PARTITION (ds='1', hr='12') " +
      "PARTITION (ds='1', hr='11')",
    "PARSE", "syntax", "single partition", "ARCHIVE can only")

  // ---- udf/udtf remainder ---------------------------------------------------
  refuses("udf_array_contains_wrong2", Nil,
    "SELECT array_contains(array(1, 2, 3), '2x') FROM src",
    "DATATYPE_MISMATCH", "type", "argument")

  refuses("udf_coalesce", Nil,
    "SELECT COALESCE(array(1, 2), '2.0') FROM src LIMIT 1",
    "DATATYPE_MISMATCH", "type", "argument")

  refuses("udf_elt_wrong_type", Nil,
    "SELECT elt(1, src_thrift.lintstring) FROM src_thrift",
    "DATATYPE_MISMATCH", "type", "argument")

  refuses("udf_field_wrong_args_len", Nil,
    "SELECT field(3) FROM src",
    "argument", "WRONG_NUM_ARGS", "requires", "needs")

  refuses("udf_if_not_bool", Nil,
    "SELECT IF('STRING', 1, 1) FROM src",
    "DATATYPE_MISMATCH", "boolean", "type")

  refuses("udf_in", Nil,
    "SELECT 3 IN (array(1,2,3)) FROM src",
    "DATATYPE_MISMATCH", "type", "IN")

  refuses("udf_instr_wrong_args_len", Nil,
    "SELECT instr('abcd') FROM src",
    "argument", "WRONG_NUM_ARGS", "requires", "accepts")

  refuses("udf_instr_wrong_type", Nil,
    "SELECT instr('abcd', src_thrift.lintstring) FROM src_thrift",
    "DATATYPE_MISMATCH", "type", "argument")

  refuses("udf_locate_wrong_type", Nil,
    "SELECT locate('a', src_thrift.lintstring) FROM src_thrift",
    "DATATYPE_MISMATCH", "type", "argument")

  refuses("udf_map_values_arg_num", Nil,
    "SELECT map_values(map('a','1'), map('b','2')) FROM src",
    "argument", "WRONG_NUM_ARGS", "requires", "accepts")

  refuses("udf_case_type_wrong2", Nil,
    "SELECT CASE '1' WHEN '1' THEN 2 WHEN '3' THEN 4 ELSE array(5) END " +
      "FROM src LIMIT 1",
    "DATATYPE_MISMATCH", "type", "THEN")

  refuses("udf_case_type_wrong3", Nil,
    "SELECT CASE '1' WHEN '1' THEN 2 WHEN '3' THEN 4 ELSE map('a', 7) END " +
      "FROM src LIMIT 1",
    "DATATYPE_MISMATCH", "type", "ELSE")

  refuses("udf_when_type_wrong2", Nil,
    "SELECT CASE WHEN TRUE THEN 2 WHEN FALSE THEN array(4) ELSE 5 END " +
      "FROM src LIMIT 1",
    "DATATYPE_MISMATCH", "type", "THEN")

  refuses("udf_when_type_wrong3", Nil,
    "SELECT CASE WHEN TRUE THEN 2 WHEN FALSE THEN 4 ELSE map('a', 5.3) END " +
      "FROM src LIMIT 1",
    "DATATYPE_MISMATCH", "type", "ELSE")

  refuses("udtf_explode_not_supported2", Nil,
    "SELECT explode(array(1,2,3)) AS (myCol1, myCol2) FROM src",
    "aliases", "number", "mismatch", "expected")

  refuses("lateral_view_alias", Nil,
    "SELECT * FROM src LATERAL VIEW explode(array(1,2,3)) myTable " +
      "AS myCol1, myCol2 LIMIT 3",
    "aliases", "number", "mismatch", "expected")

  refuses("lateral_view_join", Nil,
    "SELECT src.key FROM src LATERAL VIEW explode(array(1,2,3)) AS myTable JOIN src b",
    "PARSE", "syntax", "mismatched")

  refuses("create_unknown_udf_udaf", Nil,
    "CREATE TEMPORARY FUNCTION dummy_function_neg4 AS " +
      "'org.apache.hadoop.hive.ql.udf.UDFDummyFunction'",
    "unknown implementation class")

  refuses("udf_test_error_reduce", Nil,
    "CREATE TEMPORARY FUNCTION test_error_n4 AS " +
      "'org.apache.hadoop.hive.ql.udf.UDFTestErrorOnFalse'",
    "unknown implementation class")

  refuses("udf_reflect_neg", Nil,
    // reflect() into a denied class: the engine's reflect kernel resolves
    // methods eagerly and refuses unknown/unsafe targets
    "SELECT reflect('java.lang.StringClassThatDoesNotExist', 'valueOf', 1) " +
      "FROM src LIMIT 1",
    "reflect", "class", "not found", "cannot")

  // ---- analysis remainder --------------------------------------------------
  refuses("clustern2", Nil,
    "SELECT x.key, x.value as key FROM (SELECT * FROM src) x CLUSTER BY key",
    "ambiguous", "AMBIGUOUS", "cannot resolve")

  refuses("notable_alias3",
    Seq("drop table if exists na3_neg4",
      "CREATE TABLE na3_neg4 (key INT, value DOUBLE)"),
    "FROM src INSERT OVERWRITE TABLE na3_neg4 " +
      "SELECT '1234', src.key, sum(src.value) WHERE src.key < 100 group by key",
    "ARITY", "too many data columns", "number of columns", "mismatch")

  refuses("semijoin2", Nil,
    "SELECT * FROM src a LEFT SEMI JOIN src b on a.key = b.key " +
      "WHERE b.value > 'val_1'",
    "cannot resolve", "UNRESOLVED")

  refuses("semijoin3", Nil,
    "SELECT count(1) FROM src a LEFT SEMI JOIN src b on a.key = b.key " +
      "group by b.key",
    "cannot resolve", "UNRESOLVED")

  refuses("regex_col_groupby", Nil,
    "SELECT `..`, count(1) FROM srcpart GROUP BY `..`",
    "cannot be resolved", "Invalid", "UNRESOLVED")

  superset("duplicate_alias_in_transform",
    "Column alias already exists: foo (TRANSFORM AS list must be unique); " +
      "Spark relations tolerate duplicate output names until referenced",
    "SELECT TRANSFORM(key, value) USING '/bin/cat' AS (foo, foo) FROM src LIMIT 1")

  refuses("database_create_invalid_name", Nil,
    "create database test_db_neg4.db",
    "PARSE", "syntax", "invalid", "single-part namespace")

  refuses("database_drop_not_empty_restrict",
    Seq("drop database if exists db_restrict_neg4 cascade",
      "create database db_restrict_neg4",
      "use db_restrict_neg4",
      "create table t_in_restrict_neg4 (c string)",
      "use default"),
    "drop database db_restrict_neg4 restrict",
    "not empty", "SCHEMA_NOT_EMPTY")

  refuses("show_tables_bad_db2", Nil,
    "show tables from nonexistent_neg4 like 'test'",
    "not found", "does not exist", "SCHEMA_NOT_FOUND")

  refuses("describe_xpath3", Nil,
    "describe src_thrift.lint.$elem$.abc",
    "cannot find field")

  refuses("describe_xpath4", Nil,
    "describe src_thrift.mstringstring.$value$.abc",
    "cannot find field")

  refuses("invalid_max_syntax", Nil, "SELECT max(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_min_syntax", Nil, "SELECT min(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_std_syntax", Nil, "SELECT std(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_stddev_samp_syntax", Nil,
    "SELECT stddev_samp(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_var_samp_syntax", Nil, "SELECT var_samp(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_variance_syntax", Nil, "SELECT variance(DISTINCT *) FROM src",
    "requires", "WRONG_NUM_ARGS", "invalid")

  refuses("invalid_t_create1",
    Seq("drop table if exists invt1_neg4"),
    "create table invt1_neg4 (d datetime)",
    "UNSUPPORTED_DATATYPE", "DATETIME")

  refuses("invalid_t_alter1",
    Seq("drop table if exists invta1_neg4",
      "create table invta1_neg4 (d string)"),
    "alter table invta1_neg4 add columns (ts datetime)",
    "DATETIME", "datetime", "UNSUPPORTED")

  refuses("invalid_t_alter2",
    Seq("drop table if exists invta2_neg4",
      "create table invta2_neg4 (d string)"),
    "alter table invta2_neg4 change d d datetime",
    "DATETIME", "datetime", "UNSUPPORTED")

  refuses("invalid_t_transform", Nil,
    "SELECT TRANSFORM(key) USING '/bin/cat' AS (key datetime) FROM src",
    "DATETIME", "datetime", "UNSUPPORTED", "PARSE")

  refuses("alter_non_native",
    Seq("drop table if exists non_native1_neg4"),
    "CREATE TABLE non_native1_neg4 (key int, value string) STORED BY " +
      "'org.apache.hadoop.hive.ql.metadata.DefaultStorageHandler'",
    "storage handler", "not available")

  refuses("alter_concatenate_indexed_table",
    Seq("set hive.exec.concatenate.check.index=true",
      "drop table if exists src_rc_concat_neg4",
      "create table src_rc_concat_neg4 (key int, value string) stored as rcfile",
      "CREATE INDEX src_rc_concat_neg4_index ON TABLE src_rc_concat_neg4(key) " +
        "as 'compact' WITH DEFERRED REBUILD"),
    "alter table src_rc_concat_neg4 concatenate",
    "index")

  refuses("external1", Nil,
    "create external table external1_neg4 (a int, b int) " +
      "location 'invalidscheme://data.s3ndemo.hive/kv'",
    "No FileSystem for scheme", "UnsupportedFileSystem", "invalidscheme")

  refuses("external2",
    Seq("drop table if exists external2_neg4",
      "create external table external2_neg4 (a int, b int) " +
        s"location '/tmp/graft_ext2_neg4'"),
    "alter table external2_neg4 add partition " +
      "(ds='2008-04-08') location 'invalidscheme://data.s3ndemo.hive/pkv/2008-04-08'",
    "No FileSystem for scheme", "UnsupportedFileSystem", "invalidscheme",
    "not partitioned", "PARTITION")

  refuses("duplicate_insert3", Nil,
    """from src
       insert overwrite local directory '/tmp/graft_dup3_neg4' select key
       insert overwrite local directory '/tmp/graft_dup3_neg4' select value""",
    "multiple times", "same output", "duplicate", "already")

  // ---- supersets remainder ----------------------------------------------------
  superset("groupby2_map_skew_multi_distinct",
    "multi-DISTINCT with hive.groupby.skewindata",
    Seq("set hive.map.aggr=true", "set hive.groupby.skewindata=true",
      "SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)), " +
        "sum(DISTINCT substr(src.value, 5)), count(src.value) FROM src " +
        "GROUP BY substr(src.key,1,1)",
      "set hive.groupby.skewindata=false"): _*)

  superset("groupby3_multi_distinct",
    "multi-DISTINCT with hive.groupby.skewindata (no map aggr)",
    Seq("set hive.map.aggr=false", "set hive.groupby.skewindata=true",
      "SELECT count(DISTINCT substr(src.value,5)), " +
        "sum(DISTINCT substr(src.value, 5)) FROM src",
      "set hive.groupby.skewindata=false", "set hive.map.aggr=true"): _*)

  superset("groupby3_map_skew_multi_distinct",
    "multi-DISTINCT with skew + map aggr",
    Seq("set hive.map.aggr=true", "set hive.groupby.skewindata=true",
      "SELECT count(DISTINCT substr(src.value,5)), " +
        "sum(DISTINCT substr(src.value, 5)) FROM src",
      "set hive.groupby.skewindata=false"): _*)

  superset("no_matching_udf",
    "percentile() requires an integer first argument",
    "SELECT percentile(CAST(3.5 AS INT), 0.99) FROM src")

  superset("udtf_explode_not_supported4",
    "UDTF with GROUP BY",
    "SELECT explode(array(key)) AS x FROM src GROUP BY key")

  superset("udtf_not_supported3",
    "UDTF with GROUP BY",
    "SELECT explode(array(key)) AS myCol FROM src GROUP BY key")

  refuses("fs_default_name1", Nil,
    // the .q's deliberately unterminated literal: the engine's literal
    // masker refuses it at the SET, the reference's FS init refuses later
    "set fs.default.name='http://www.example.com",
    "unterminated")

  superset("fs_default_name2",
    "fs.default.name=invalid breaks the session FS (conf is inert here)",
    Seq("set fs.default.name='http://www.example.com'",
      "show tables"): _*)

  superset("index_bitmap_no_map_aggr",
    "EXPLAIN CREATE BITMAP INDEX requires hive.map.aggr (MR plan shape)",
    Seq("set hive.map.aggr=false",
      "EXPLAIN CREATE INDEX src1_index_neg4 ON TABLE graft_qf_nation(n_name) " +
        "as 'BITMAP' WITH DEFERRED REBUILD",
      "set hive.map.aggr=true"): _*)

  superset("index_compact_entry_limit",
    "hive.index.compact.query.max.entries exceeded at query time " +
      "(the engine's index probe prunes files, never materializing offsets)",
    "select key from src where key = '4'")

  superset("index_compact_size_limit",
    "hive.index.compact.query.max.size exceeded at query time " +
      "(same probe-side budget; Spark's pruned scan has no offset buffer)",
    "select key from src where key = '4'")

  superset("script_broken_pipe1",
    "script closes stdin early (broken pipe kills the MR task); the " +
      "engine's writer tolerates a consumer that exits 0 without reading",
    "SELECT TRANSFORM(key, value) USING '/bin/true' AS (a, b) FROM src LIMIT 10")

  superset("minimr_broken_pipe",
    "broken pipe under minimr; same writer tolerance as script_broken_pipe1",
    "SELECT TRANSFORM(key) USING '/bin/true' AS (a) FROM src LIMIT 5")

  superset("uniquejoin3",
    "UNIQUEJOIN mixed with plain JOIN is a grammar error in Hive.g; the " +
      "engine's FROM-first rewrite refuses too — asserted in tranche2 " +
      "uniquejoin; this leg pins the plain-JOIN half still works",
    "SELECT a.key FROM src a JOIN src b ON a.key = b.key LIMIT 1")
}
