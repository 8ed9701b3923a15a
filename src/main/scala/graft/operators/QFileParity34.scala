package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 34 (round 15): protectmode.q (table- and
  * partition-scoped OFFLINE/NO_DROP toggles), the exim authorization
  * success quartet (exim_21/22/23/24), alter_index SET IDXPROPERTIES,
  * and the SHOW INDEX syntax variants.
  */
object QFileParity34 extends QueryModule {

  import QFileParity.{fixtures, fresh, TestDat, cnt, rmrf}
  import QFileParity.Lines.{facts, ordered}

  private def inImporter(s: SparkSession, db: String)(body: => DataFrame): DataFrame = {
    HiveQl.sql(s, s"drop database if exists $db cascade")
    HiveQl.sql(s, s"create database $db")
    HiveQl.sql(s, s"use $db")
    try body finally {
      HiveQl.sql(s, "use default")
      HiveQl.sql(s, s"drop database if exists $db cascade")
      HiveQl.sql(s, "set hive.security.authorization.enabled=false")
      HiveQl.sql(s, "set hive.test.mode=false")
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/protectmode.q: OFFLINE/NO_DROP toggles never
    //      block UNPROTECTED units; partition-level modes are independent
    //      of the table's
    QueryDef(
      "q884_qf_protectmode",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"pm_tbl1_q884_$sfx"
        val t2 = s"pm_tbl2_q884_$sfx"
        fresh(s, t1, t2)
        HiveQl.sql(s, s"create table $t1 (col string)")
        HiveQl.sql(s, s"select * from $t1")
        HiveQl.sql(s, s"alter table $t1 enable offline")
        val off = try { HiveQl.sql(s, s"select * from $t1"); false }
          catch { case e: Exception => e.getMessage.contains("offline") }
        HiveQl.sql(s, s"alter table $t1 disable offline")
        val f0 = facts(s, 0, Seq(
          "offline_blocks" -> off.toString,
          "readable_after_disable" ->
            (HiveQl.sql(s, s"select col from $t1").count() == 0).toString))
        HiveQl.sql(s, s"create table $t2 (col string) partitioned by (p string)")
        for (p <- Seq("p1", "p2", "p3"))
          HiveQl.sql(s, s"alter table $t2 add partition (p='$p')")
        HiveQl.sql(s, s"alter table $t2 drop partition (p='not_exist')")
        HiveQl.sql(s, s"select * from $t2 where p='p1'")
        HiveQl.sql(s, s"alter table $t2 partition (p='p1') enable offline")
        HiveQl.sql(s, s"alter table $t2 enable offline")
        HiveQl.sql(s, s"alter table $t2 enable no_drop")
        // table-level NO_DROP guards the TABLE; partitions still drop
        HiveQl.sql(s, s"alter table $t2 drop partition (p='p3')")
        HiveQl.sql(s, s"alter table $t2 disable offline")
        HiveQl.sql(s, s"alter table $t2 disable no_drop")
        val f1 = facts(s, 1, Seq(
          "p2_readable" -> (cnt(s, s"select count(1) from $t2 where p='p2'") == 0L).toString,
          "partitions_after_p3_drop" ->
            HiveQl.sql(s, s"show partitions $t2").count().toString))
        HiveQl.sql(s, s"alter table $t2 partition (p='p1') disable offline")
        HiveQl.sql(s, s"select col from $t2 where p='p1'")
        HiveQl.sql(s, s"insert overwrite table $t1 select col from $t2 where p='p1'")
        HiveQl.sql(s, s"insert overwrite table $t1 select col from $t1")
        HiveQl.sql(s, s"alter table $t2 partition (p='p1') enable no_drop")
        HiveQl.sql(s, s"alter table $t2 partition (p='p1') disable no_drop")
        HiveQl.sql(s, s"alter table $t2 partition (p='p2') enable no_drop")
        // p2 is protected: dropping p1 works, dropping p2 must refuse
        HiveQl.sql(s, s"alter table $t2 drop partition (p='p1')")
        val p2Block = try {
          HiveQl.sql(s, s"alter table $t2 drop partition (p='p2')"); false
        } catch { case e: Exception => e.getMessage.contains("protected") }
        HiveQl.sql(s, s"alter table $t2 partition (p='p2') disable no_drop")
        val f2 = facts(s, 2, Seq(
          "p2_drop_blocked" -> p2Block.toString,
          "partitions_final" -> HiveQl.sql(s, s"show partitions $t2").count().toString))
        Seq(t1, t2).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'offline_blocks|true'), (0, 'readable_after_disable|true'),
        (1, 'p2_readable|true'), (1, 'partitions_after_p3_drop|2'),
        (2, 'p2_drop_blocked|true'), (2, 'partitions_final|1'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/exim_21_export_authsuccess.q: Select grant
    //      authorizes EXPORT under enforcement
    QueryDef(
      "q885_qf_exim_21_export_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q885_$sfx"
        val exp = s"/tmp/graft_exim/q885_$sfx"
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, "set hive.test.mode=true")
        HiveQl.sql(s, "set hive.test.mode.prefix=")
        HiveQl.sql(s, s"set hive.test.mode.nosamplelist=$t")
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        HiveQl.sql(s, s"""load data local inpath "$TestDat" into table $t""")
        HiveQl.sql(s, s"revoke Select on table $t from user hive_test_user")
        HiveQl.sql(s, s"grant Select on table $t to user hive_test_user")
        HiveQl.sql(s, "set hive.security.authorization.enabled=true")
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val exported = try { HiveQl.sql(s, s"export table $t to '$exp'"); true }
          catch { case _: Exception => false }
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        HiveQl.sql(s, "set hive.test.mode=false")
        val p = new org.apache.hadoop.fs.Path(exp + "/_metadata")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val f = facts(s, 0, Seq(
          "exported" -> exported.toString,
          "metadata_written" -> fs.exists(p).toString))
        HiveQl.sql(s, s"drop table $t")
        rmrf(s, exp)
        f.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'exported|true'),
        (0, 'metadata_written|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/exim_22_import_exist_authsuccess.q: Alter+Update
    //      grants authorize IMPORT into an existing table
    QueryDef(
      "q886_qf_exim_22_import_exist_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q886_$sfx"
        val db = s"importer_q886_$sfx"
        val exp = s"/tmp/graft_exim/q886_$sfx"
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, "set hive.test.mode=true")
        HiveQl.sql(s, s"set hive.test.mode.nosamplelist=$t")
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        HiveQl.sql(s, s"""load data local inpath "$TestDat" into table $t""")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        val out = inImporter(s, db) {
          HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
          for (pr <- Seq("Alter", "Update"))
            HiveQl.sql(s, s"grant $pr on table $t to user hive_test_user")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          val imported = try { HiveQl.sql(s, s"import from '$exp'"); true }
            catch { case _: Exception => false }
          HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          facts(s, 0, Seq(
            "imported" -> imported.toString,
            "rows" -> cnt(s, s"select count(1) from $t").toString))
        }
        rmrf(s, exp)
        out.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'imported|true'), (0, 'rows|6'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/exim_23_import_part_authsuccess.q: the same over
    //      a partitioned employee table
    QueryDef(
      "q887_qf_exim_23_import_part_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q887_$sfx"
        val db = s"importer_q887_$sfx"
        val exp = s"/tmp/graft_exim/q887_$sfx"
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, "set hive.test.mode=true")
        HiveQl.sql(s, s"set hive.test.mode.nosamplelist=$t")
        def ddl(): Unit = HiveQl.sql(s, s"""create table $t ( emp_id int comment "employee id")
          comment "employee table"
          partitioned by (emp_country string comment "two char iso code", emp_state string comment "free text")
          stored as textfile
          tblproperties("creator"="krishna")""")
        ddl()
        HiveQl.sql(s, s"""load data local inpath "$TestDat"
          into table $t partition (emp_country="in", emp_state="tn")""")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        val out = inImporter(s, db) {
          ddl()
          for (pr <- Seq("Alter", "Update"))
            HiveQl.sql(s, s"grant $pr on table $t to user hive_test_user")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          val imported = try { HiveQl.sql(s, s"import from '$exp'"); true }
            catch { case _: Exception => false }
          HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          facts(s, 0, Seq(
            "imported" -> imported.toString,
            "rows" -> cnt(s, s"select count(1) from $t where emp_country='in'").toString))
        }
        rmrf(s, exp)
        out.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'imported|true'), (0, 'rows|6'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/exim_24_import_nonexist_authsuccess.q: a
    //      database-level Create grant authorizes importing a NEW table
    QueryDef(
      "q888_qf_exim_24_import_nonexist_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q888_$sfx"
        val db = s"importer_q888_$sfx"
        val exp = s"/tmp/graft_exim/q888_$sfx"
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s, "set hive.test.mode=true")
        HiveQl.sql(s, s"set hive.test.mode.nosamplelist=$t")
        HiveQl.sql(s, s"create table $t ( dep_id int) stored as textfile")
        HiveQl.sql(s, s"""load data local inpath "$TestDat" into table $t""")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        val out = inImporter(s, db) {
          HiveQl.sql(s, s"grant Create on database $db to user hive_test_user")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          val imported = try { HiveQl.sql(s, s"import from '$exp'"); true }
            catch { case _: Exception => false }
          HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          facts(s, 0, Seq(
            "imported" -> imported.toString,
            "rows" -> cnt(s, s"select count(1) from $t").toString))
        }
        rmrf(s, exp)
        out.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'imported|true'), (0, 'rows|6'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/alter_index.q: SET IDXPROPERTIES lands on the
    //      index table's properties (update + add; untouched keys survive)
    QueryDef(
      "q889_qf_alter_index",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_ai_q889_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t as select * from src")
        HiveQl.sql(s, s"drop index if exists src_index_8 on $t")
        HiveQl.sql(s, s"""create index src_index_8 on table $t(key) as 'compact'
          WITH DEFERRED REBUILD IDXPROPERTIES ("prop1"="val1", "prop2"="val2")""")
        val it = s"default__${t}_src_index_8__"
        def props: Map[String, String] = Indexes.idxProperties(it)
        val f0 = facts(s, 0, Seq(
          "described" -> (HiveQl.sql(s, s"desc extended $it").count() > 0).toString))
        HiveQl.sql(s,
          s"""alter index src_index_8 on $t set IDXPROPERTIES ("prop1"="val1_new", "prop3"="val3")""")
        val p = props
        val f1 = facts(s, 1, Seq(
          "prop1" -> p.getOrElse("prop1", "-"),
          "prop3" -> p.getOrElse("prop3", "-")))
        HiveQl.sql(s, s"drop index src_index_8 on $t")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES (0, 'described|true'),
        (1, 'prop1|val1_new'), (1, 'prop3|val3')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/show_indexes_syntax.q: SHOW INDEX / SHOW INDEXES
    //      / SHOW FORMATTED INDEXES all list the one index
    QueryDef(
      "q890_qf_show_indexes_syntax",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"show_idx_t1_q890_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(KEY STRING, VALUE STRING)")
        HiveQl.sql(s, s"drop index if exists idx_t1 on $t")
        HiveQl.sql(s, s"""CREATE INDEX idx_t1 ON TABLE $t(KEY) AS "COMPACT" WITH DEFERRED REBUILD""")
        HiveQl.sql(s, s"ALTER INDEX idx_t1 ON $t REBUILD")
        val f = facts(s, 0, Seq(
          "show_index" -> HiveQl.sql(s, s"SHOW INDEX ON $t").count().toString,
          "show_indexes" -> HiveQl.sql(s, s"SHOW INDEXES ON $t").count().toString,
          "show_formatted" -> HiveQl.sql(s, s"SHOW FORMATTED INDEXES ON $t").count().toString))
        HiveQl.sql(s, s"DROP INDEX idx_t1 ON $t")
        HiveQl.sql(s, s"DROP TABLE $t")
        f.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'show_formatted|1'),
        (0, 'show_index|1'), (0, 'show_indexes|1')) v(sec, c1)
        ORDER BY sec, c1"""))
  )
}
