package graft

import org.apache.spark.sql.SparkSession
import graft.operators.QFileParity.{RefData, TestDat}

/** clientnegative parity battery, tranche 5 — the final 23 files: script
  * pipe failures, remaining exim/fileformat incompatibilities, view
  * replace edge cases. With this tranche every clientnegative file has a
  * named verdict (refuses / documented superset / upstream-disabled).
  */
class NegativeParitySpec5 extends SparkSpec {

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
    val names = stmts.flatMap("""\b(\w+_neg5)\b""".r.findAllMatchIn(_))
      .map(_.group(1).toLowerCase).distinct
    names.foreach { t =>
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
        try HiveQl.sql(s, "set hive.exec.script.allow.partial.consumption = true")
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

  // ---- scripts --------------------------------------------------------------
  refuses("script_broken_pipe2",
    Seq("set hive.exec.script.allow.partial.consumption = false"),
    "SELECT TRANSFORM(key, value, key, value, key, value, key, value, " +
      "key, value, key, value) USING '/bin/true' as a,b,c,d FROM src",
    "pipe", "consum", "failed", "error", "exit", "Stream closed")

  refuses("script_broken_pipe3",
    Seq("set hive.exec.script.allow.partial.consumption = true"),
    "SELECT TRANSFORM(key) USING '/bin/false' AS a " +
      "FROM (SELECT * FROM src LIMIT 1) tmp",
    "exit", "non-zero", "failed", "error")

  refuses("bad_exec_hooks",
    Seq("set hive.exec.pre.hooks=\"org.this.is.a.bad.class\""),
    "SELECT key FROM src LIMIT 1",
    "ClassNotFoundException")

  // ---- transform clause combos -----------------------------------------------
  refuses("clusterbydistributeby",
    Seq("drop table if exists cbdb_neg5",
      "CREATE TABLE cbdb_neg5 (key INT, ten INT, one INT, value STRING)"),
    "FROM src INSERT OVERWRITE TABLE cbdb_neg5 MAP src.key, " +
      "CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value " +
      "USING '/bin/cat' AS (tkey, ten, one, tvalue) " +
      "CLUSTER BY tvalue, tkey DISTRIBUTE BY tvalue, tkey",
    "Combination", "UNSUPPORTED_FEATURE", "PARSE", "CLUSTER BY")

  refuses("clusterbysortby",
    Seq("drop table if exists cbsb_neg5",
      "CREATE TABLE cbsb_neg5 (key INT, ten INT, one INT, value STRING)"),
    "FROM src INSERT OVERWRITE TABLE cbsb_neg5 MAP src.key, " +
      "CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value " +
      "USING '/bin/cat' AS (tkey, ten, one, tvalue) " +
      "CLUSTER BY tvalue, tkey SORT BY ten, one",
    "Combination", "UNSUPPORTED_FEATURE", "PARSE", "CLUSTER BY")

  refuses("column_rename3",
    Seq("drop table if exists colren3_neg5",
      "create table colren3_neg5 (key string, value string)"),
    "alter table colren3_neg5 change key key",
    "PARSE", "syntax", "cannot recognize", "mismatched")

  // ---- view replace edge cases -------------------------------------------------
  refuses("create_or_replace_view1",
    matSrc("corv1src_neg5") ++ Seq(
      "drop view if exists corv1_neg5",
      "create view corv1_neg5 partitioned on (value) as select * from corv1src_neg5",
      "alter view corv1_neg5 add partition (value='val_86')"),
    "create or replace view corv1_neg5 as select * from corv1src_neg5",
    "Cannot add or drop partition columns")

  refuses("create_or_replace_view4",
    matSrc("corv4src_neg5") ++ Seq(
      "drop view if exists corv4_neg5",
      "create view corv4_neg5 partitioned on (value) as select * from corv4src_neg5"),
    "create or replace view corv4_neg5 partitioned on (key, value) " +
      "as select key, value from corv4src_neg5",
    "At least one non-partitioning column")

  superset("alter_view_failure6",
    "strict mode refuses a view partition whose predicate does not prune " +
      "the underlying table (the engine's strict check is name-level, " +
      "before view expansion)",
    (matSrc("avf6src_neg5") ++ Seq(
      "drop view if exists xxx7_neg5",
      "CREATE VIEW xxx7_neg5 PARTITIONED ON (key) AS SELECT value, key FROM avf6src_neg5",
      "ALTER VIEW xxx7_neg5 ADD PARTITION (key='10')",
      "drop view xxx7_neg5")): _*)

  superset("duplicate_alias_in_transform_schema",
    "Column alias already exists in typed TRANSFORM AS list",
    "SELECT TRANSFORM(key, value) USING '/bin/cat' " +
      "AS (foo STRING, foo STRING) FROM src LIMIT 1")

  // dyn_part_empty.q is DISABLED in the reference tree
  // (dyn_part_empty.q.disabled) — no behavior to transcribe.
  test("clientnegative/dyn_part_empty.q: upstream-disabled (no verdict)") {}

  // ---- exim remainder -----------------------------------------------------------
  refuses("exim_09_nonpart_noncompat_serdeparam",
    Seq("drop table if exists exim09_neg5"),
    // the incompatible serde-properties CREATE itself refuses here: a
    // LazySimpleSerDe with non-default serialization.format has no engine
    // mapping (the reference creates it, then refuses the import)
    "create table exim09_neg5 (dep_id int) row format serde " +
      "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
      "with serdeproperties ('serialization.format'='0') stored as textfile",
    "PARSE", "serde", "syntax", "SERDEPROPERTIES", "unmapped", "expecting")

  test("clientnegative/exim_13_nonnative_import.q: refuses") {
    val s = freshSession()
    val dir = "/tmp/graft_eximneg5_13"
    rmrf(s, dir)
    purge(s, Seq("exim13_src_neg5", "exim13_kv_neg5"))
    try {
      run(s,
        "create table exim13_src_neg5 (key string, value string) stored as textfile",
        s"load data local inpath '$TestDat' into table exim13_src_neg5",
        s"export table exim13_src_neg5 to '$dir'",
        "CREATE TABLE exim13_kv_neg5 (key string, value string) STORED BY " +
          "'graft.sources.kv.KvSource' WITH SERDEPROPERTIES " +
          "('kv.columns.mapping' = ':key,d:value')")
      val e = intercept[Throwable](HiveQl.sql(s,
        s"import table exim13_kv_neg5 from '$dir'").collect())
      assert(Option(e.getMessage).getOrElse("")
        .contains("cannot be done for a non-native table"))
    } finally {
      rmrf(s, dir)
      Seq("exim13_src_neg5", "exim13_kv_neg5").foreach(t =>
        try HiveQl.sql(s, s"drop table if exists $t")
        catch { case _: Exception => })
    }
  }

  private def eximPart(name: String, recreate: Seq[String], importStmt: String,
      frags: String*): Unit =
    test(s"clientnegative/$name.q: refuses") {
      val s = freshSession()
      val dir = s"/tmp/graft_eximneg5_$name"
      rmrf(s, dir)
      purge(s, Seq("exim_employee_neg5"))
      run(s,
        "create table exim_employee_neg5 (emp_id int) " +
          "partitioned by (emp_country string, emp_state string) stored as textfile",
        s"load data local inpath '$TestDat' into table exim_employee_neg5 " +
          "partition (emp_country='us', emp_state='ka')",
        s"export table exim_employee_neg5 to '$dir'",
        "drop table exim_employee_neg5")
      run(s, recreate: _*)
      val e = intercept[Throwable](
        HiveQl.sql(s, importStmt.replace("$DIR", dir)).collect())
      val msg = (Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")).toLowerCase
      rmrf(s, dir)
      try HiveQl.sql(s, "set hive.security.authorization.enabled=false")
      catch { case _: Exception => }
      try HiveQl.sql(s, "drop table if exists exim_employee_neg5")
      catch { case _: Exception => }
      assert(frags.exists(f => msg.contains(f.toLowerCase)),
        s"expected one of ${frags.mkString("|")}, got: $msg")
    }

  eximPart("exim_16_part_noncompat_schema",
    Seq("create table exim_employee_neg5 (emp_key int) " +
      "partitioned by (emp_country string, emp_state string) stored as textfile"),
    "import table exim_employee_neg5 partition " +
      "(emp_country='us', emp_state='ka') from '$DIR'",
    "Column Schema does not match")

  eximPart("exim_21_part_managed_external",
    Seq("create table exim_employee_neg5 (emp_id int) " +
      "partitioned by (emp_country string, emp_state string) stored as textfile"),
    "import external table exim_employee_neg5 partition " +
      "(emp_country='us', emp_state='ka') from '$DIR'",
    "External table cannot overwrite existing table")

  eximPart("exim_24_import_part_authfail",
    Seq("create table exim_employee_neg5 (emp_id int) " +
      "partitioned by (emp_country string, emp_state string) stored as textfile",
      "set hive.security.authorization.enabled=true",
      "set hive.session.user=hive_test_user"),
    "import table exim_employee_neg5 partition " +
      "(emp_country='us', emp_state='ka') from '$DIR'",
    "No privilege 'Update' found")

  // ---- file formats ------------------------------------------------------------
  refuses("fileformat_bad_class",
    Seq("drop table if exists ffbad_neg5"),
    "CREATE TABLE ffbad_neg5 (key INT, value STRING) STORED AS " +
      "INPUTFORMAT 'ClassDoesNotExist' OUTPUTFORMAT 'ClassDoesNotExist'",
    "unmapped")

  refuses("fileformat_void_input",
    Seq("drop table if exists ffvoid_neg5"),
    "CREATE TABLE ffvoid_neg5 (key INT, value STRING) STORED AS " +
      "INPUTFORMAT 'java.lang.Void' OUTPUTFORMAT 'java.lang.Void'",
    "unmapped")

  refuses("fileformat_void_output",
    Seq("drop table if exists ffvoido_neg5"),
    "CREATE TABLE ffvoido_neg5 (key INT, value STRING) STORED AS " +
      "INPUTFORMAT 'org.apache.hadoop.mapred.TextInputFormat' " +
      "OUTPUTFORMAT 'java.lang.Void'",
    "unmapped")

  refuses("load_wrong_fileformat_rc_seq",
    Seq("drop table if exists lwfrs_neg5",
      "CREATE TABLE lwfrs_neg5 (a STRING) STORED AS SEQUENCEFILE"),
    s"LOAD DATA LOCAL INPATH '$RefData/smbbucket_1.rc' " +
      "INTO TABLE lwfrs_neg5",
    "file format")

  refuses("load_wrong_noof_part",
    Seq("drop table if exists lwnp_neg5",
      "CREATE TABLE lwnp_neg5 (a STRING, b STRING) " +
        "partitioned by (ds string, ts string) stored as textfile"),
    s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' " +
      "INTO TABLE lwnp_neg5 PARTITION(ds='2009-05-05')",
    "Need to specify partition columns")

  refuses("fetchtask_ioexception",
    Seq("drop table if exists fioe_neg5",
      "CREATE TABLE fioe_neg5 (key STRING, value STRING) STORED AS SEQUENCEFILE",
      s"LOAD DATA LOCAL INPATH '$RefData/kv1_broken.seq' " +
        "OVERWRITE INTO TABLE fioe_neg5"),
    "SELECT * FROM fioe_neg5",
    "EOF", "IOException", "FAILED_READ", "corrupt", "error", "not an",
    "truncated")

  superset("udf_field_wrong_type",
    "field() refuses a LIST argument (the engine's field kernel casts " +
      "every candidate through string, matching its udf_field.q posture)",
    "SELECT field(3, src_thrift.lintstring) FROM src_thrift LIMIT 1")
}
