package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 23 (round 13): view and metadata-listing
  * families — create_or_replace_view.q / create_view_partitioned.q
  * (PARTITIONED ON views, ALTER VIEW ADD/DROP PARTITION as metadata,
  * SHOW PARTITIONS over views), alter_view_rename.q, create_like_view.q,
  * show_partitions.q + showparts.q (partial-spec partition listings),
  * show_tables.q (pattern forms across databases), default_partition_name.q,
  * add_part_exist.q (ADD IF NOT EXISTS, multi-spec ADD), describe_table.q.
  */
object QFileParity23 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, dump}
  import QFileParity.Pairs.{facts, ordered}

  private def partRows(s: SparkSession, sec: Int, sql: String): DataFrame =
    facts(s, sec, HiveQl.sql(s, sql).collect().toSeq
      .map(r => r.getString(0) -> "p").sorted)

  /** A real srcpart-shaped TABLE (the fixture srcpart is a temp view). */
  private def srcpartTable(s: SparkSession, qn: String, sfx: String): String = {
    val t = s"vsp_${qn}_$sfx"
    fresh(s, t)
    HiveQl.sql(s, s"CREATE TABLE $t (key string, value string) " +
      "PARTITIONED BY (ds string, hr string) STORED AS TEXTFILE")
    HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds, hr) " +
      "SELECT key, value, ds, hr FROM srcpart")
    t
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/create_or_replace_view.q: replacing a view
    //      resets its partition metadata; selects keep working
    QueryDef(
      "q766_qf_create_or_replace_view",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q766", sfx)
        val v = s"corv_$sfx"
        HiveQl.sql(s, s"drop view if exists $v")
        HiveQl.sql(s, s"create view $v as select * from $t")
        HiveQl.sql(s, s"create or replace view $v partitioned on (ds, hr) " +
          s"as select * from $t")
        HiveQl.sql(s, s"alter view $v add partition (ds='2008-04-08',hr='11')")
        HiveQl.sql(s, s"alter view $v add partition (ds='2008-04-08',hr='12')")
        val d0 = dump(HiveQl.sql(s, s"select key, value from $v " +
          "where value='val_409' and ds='2008-04-08' and hr='11'"), 0, "key", "value")
        val p1 = partRows(s, 1, s"show partitions $v")
        HiveQl.sql(s, s"create or replace view $v partitioned on (ds, hr) " +
          s"as select value, ds, hr from $t")
        val d2 = dump(HiveQl.sql(s, s"select value, ds from $v " +
          "where value='val_409' and ds='2008-04-08' and hr='11'"), 2, "value", "ds")
        val p3 = partRows(s, 3, s"show partitions $v") // replace reset it
        HiveQl.sql(s, s"drop view $v")
        ordered(Seq(d0, p1, d2, p3))
      },
      Some(s"""$SrcCte,
          hits AS (SELECT key, value FROM src WHERE value = 'val_409'),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM hits
            UNION ALL SELECT 1, 'ds=2008-04-08/hr=11', 'p'
            UNION ALL SELECT 1, 'ds=2008-04-08/hr=12', 'p'
            UNION ALL SELECT 2, value, '2008-04-08' FROM hits)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/create_view_partitioned.q: the vp1 battery —
    //      metadata partitions, IF NOT EXISTS dedupe, filtered SHOW,
    //      DROP PARTITION incl. ignorenonexistent=false
    QueryDef(
      "q767_qf_create_view_partitioned",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val v = s"vp1_$sfx"
        // a persistent view cannot reference the temp src view — go
        // through a real src-shaped table
        val base = s"vp1_src_$sfx"
        fresh(s, base)
        HiveQl.sql(s, s"create table $base as select * from src")
        HiveQl.sql(s, s"drop view if exists $v")
        HiveQl.sql(s, s"""CREATE VIEW $v PARTITIONED ON (value) AS
          SELECT key, value FROM $base WHERE key=86""")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $v"), 0, "key", "value")
        val d1 = dump(HiveQl.sql(s, s"SELECT key, 'x' as c2 FROM $v"), 1, "key", "c2")
        HiveQl.sql(s, s"ALTER VIEW $v " +
          "ADD PARTITION (value='val_86') PARTITION (value='val_xyz')")
        HiveQl.sql(s, s"ALTER VIEW $v ADD IF NOT EXISTS PARTITION (value='val_xyz')")
        val p2 = partRows(s, 2, s"SHOW PARTITIONS $v")
        val p3 = partRows(s, 3, s"SHOW PARTITIONS $v PARTITION(value='val_86')")
        HiveQl.sql(s, s"ALTER VIEW $v DROP PARTITION (value='val_xyz')")
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, s"ALTER VIEW $v DROP IF EXISTS PARTITION (value='val_xyz')")
        val p4 = partRows(s, 4, s"SHOW PARTITIONS $v")
        val e5 = facts(s, 5, Seq("drop_missing_errors" ->
          (try { HiveQl.sql(s, s"ALTER VIEW $v DROP PARTITION (value='val_xyz')"); "false" }
           catch { case _: Exception => "true" })))
        HiveQl.sql(s, s"drop view $v")
        ordered(Seq(d0, d1, p2, p3, p4, e5))
      },
      Some(s"""$SrcCte,
          hits AS (SELECT key, value FROM src
                   WHERE TRY_CAST(key AS DOUBLE) = 86),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM hits
            UNION ALL SELECT 1, key, 'x' FROM hits
            UNION ALL SELECT 2, 'value=val_86', 'p'
            UNION ALL SELECT 2, 'value=val_xyz', 'p'
            UNION ALL SELECT 3, 'value=val_86', 'p'
            UNION ALL SELECT 4, 'value=val_86', 'p'
            UNION ALL SELECT 5, 'drop_missing_errors', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/alter_view_rename.q
    QueryDef(
      "q768_qf_alter_view_rename",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, v1, v2) = (s"invites_$sfx", s"avr_view1_$sfx", s"avr_view2_$sfx")
        fresh(s, t)
        HiveQl.sql(s, s"drop view if exists $v1")
        HiveQl.sql(s, s"drop view if exists $v2")
        HiveQl.sql(s, s"CREATE TABLE $t (foo INT, bar STRING) PARTITIONED BY (ds STRING)")
        HiveQl.sql(s, s"CREATE VIEW $v1 as SELECT * FROM $t")
        HiveQl.sql(s, s"ALTER VIEW $v1 RENAME TO $v2")
        val f0 = facts(s, 0, Seq(
          "old_gone" -> (!s.catalog.tableExists(v1)).toString,
          "new_exists" -> s.catalog.tableExists(v2).toString,
          "rows" -> HiveQl.sql(s, s"SELECT count(*) FROM $v2")
            .collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"DROP TABLE $t")
        HiveQl.sql(s, s"DROP VIEW $v2")
        ordered(Seq(f0))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'new_exists', 'true'), (0, 'old_gone', 'true'), (0, 'rows', '0'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/create_like_view.q: CREATE TABLE LIKE a VIEW
    //      copies the view's schema into a real table
    QueryDef(
      "q769_qf_create_like_view",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, v1) = (s"clv_table1_$sfx", s"clv_table2_$sfx", s"clv_view1_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"DROP VIEW IF EXISTS $v1")
        HiveQl.sql(s, s"CREATE TABLE $t1 (a STRING, b STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE VIEW $v1 AS SELECT * FROM $t1")
        HiveQl.sql(s, s"CREATE TABLE $t2 LIKE $v1")
        HiveQl.sql(s, s"CREATE TABLE IF NOT EXISTS $t2 LIKE $v1")
        val schema2 = s.table(t2).schema.map(f => s"${f.name}:${f.dataType.sql}")
        val f0 = facts(s, 0, Seq(
          "schema" -> schema2.mkString(","),
          "is_table" -> (s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t2)).tableType
            != org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW).toString))
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT key, value FROM src")
        val c1 = facts(s, 1, Seq("rows" ->
          HiveQl.sql(s, s"SELECT count(*) FROM $t2").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"DROP VIEW $v1")
        ordered(Seq(f0, c1))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, 'schema' AS c1, 'a:STRING,b:STRING' AS c2
          UNION ALL SELECT 0, 'is_table', 'true'
          UNION ALL SELECT 1, 'rows',
            CAST((SELECT count(*) FROM src) AS VARCHAR))
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/show_partitions.q + showparts.q: full and
    //      partial-spec listings over the 4-partition srcpart shape
    QueryDef(
      "q770_qf_show_partitions",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q770", sfx)
        ordered(Seq(
          partRows(s, 0, s"SHOW PARTITIONS $t"),
          partRows(s, 1, s"SHOW PARTITIONS $t PARTITION(hr='11')"),
          partRows(s, 2, s"SHOW PARTITIONS $t PARTITION(ds='2008-04-08')"),
          partRows(s, 3, s"SHOW PARTITIONS $t PARTITION(ds='2008-04-08', hr='12')")))
      },
      Some("""SELECT * FROM (
          SELECT 0 AS sec, 'ds=' || ds || '/hr=' || hr AS c1, 'p' AS c2
          FROM (VALUES ('2008-04-08','11'),('2008-04-08','12'),
                       ('2008-04-09','11'),('2008-04-09','12')) v(ds, hr)
          UNION ALL SELECT 1, 'ds=' || ds || '/hr=11', 'p'
          FROM (VALUES ('2008-04-08'),('2008-04-09')) v(ds)
          UNION ALL SELECT 2, 'ds=2008-04-08/hr=' || hr, 'p'
          FROM (VALUES ('11'),('12')) v(hr)
          UNION ALL SELECT 3, 'ds=2008-04-08/hr=12', 'p')
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/show_tables.q: glob and alternation patterns,
    //      per-database listings
    QueryDef(
      "q771_qf_show_tables",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"shtb_test1_$sfx", s"shtb_test2_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(KEY STRING, VALUE STRING) " +
          "PARTITIONED BY(ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $t2(KEY STRING, VALUE STRING) " +
          "PARTITIONED BY(ds STRING) STORED AS TEXTFILE")
        val f0 = facts(s, 0, Seq("glob" ->
          HiveQl.sql(s, s"SHOW TABLES 'shtb_*$sfx'").count().toString))
        val f1 = facts(s, 1, Seq("alternation" ->
          HiveQl.sql(s, s"SHOW TABLES LIKE '$t1|$t2'").count().toString))
        val db = s"shtb_db_$sfx"
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        HiveQl.sql(s, s"CREATE DATABASE $db")
        HiveQl.sql(s, s"USE $db")
        HiveQl.sql(s, "CREATE TABLE foo(a INT)")
        HiveQl.sql(s, "CREATE TABLE bar(a INT)")
        val f2 = facts(s, 2, Seq("in_db" ->
          HiveQl.sql(s, "SHOW TABLES").where("isTemporary = false")
            .count().toString))
        HiveQl.sql(s, "USE default")
        val f3 = facts(s, 3, Seq("from_other_db" ->
          HiveQl.sql(s, s"SHOW TABLES IN $db").where("isTemporary = false")
            .count().toString))
        HiveQl.sql(s, s"DROP DATABASE $db CASCADE")
        ordered(Seq(f0, f1, f2, f3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'glob', '2'), (1, 'alternation', '2'),
          (2, 'in_db', '2'), (3, 'from_other_db', '2'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/default_partition_name.q: the literal
    //      __HIVE_DEFAULT_PARTITION__ value added while the conf renames
    //      the default — the literal stays literal
    QueryDef(
      "q772_qf_default_partition_name",
      (s, dir) => {
        val t = s"default_partition_name_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key int, value string) " +
          "partitioned by (ds string)")
        HiveQl.sql(s,
          "set hive.exec.default.partition.name='some_other_default_partition_name'")
        HiveQl.sql(s, s"alter table $t add partition(ds='__HIVE_DEFAULT_PARTITION__')")
        partRows(s, 0, s"show partitions $t")
      },
      Some("""SELECT 0 AS sec, 'ds=__HIVE_DEFAULT_PARTITION__' AS c1, 'p' AS c2""")),

    // ---- clientpositive/add_part_exist.q: IF NOT EXISTS idempotence +
    //      multi-spec ADD in one statement
    QueryDef(
      "q773_qf_add_part_exist",
      (s, dir) => {
        val t = s"add_part_test_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key STRING, value STRING) " +
          "PARTITIONED BY (ds STRING)")
        val p0 = facts(s, 0, Seq("parts" ->
          HiveQl.sql(s, s"SHOW PARTITIONS $t").count().toString))
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (ds='2010-01-01')")
        HiveQl.sql(s, s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION (ds='2010-01-01')")
        val p1 = partRows(s, 1, s"SHOW PARTITIONS $t")
        HiveQl.sql(s, s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION (ds='2010-01-02')")
        HiveQl.sql(s, s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION (ds='2010-01-01') " +
          "PARTITION (ds='2010-01-02') PARTITION (ds='2010-01-03')")
        val p2 = partRows(s, 2, s"SHOW PARTITIONS $t")
        ordered(Seq(p0, p1, p2))
      },
      Some("""SELECT * FROM (
          SELECT 0 AS sec, 'parts' AS c1, '0' AS c2
          UNION ALL SELECT 1, 'ds=2010-01-01', 'p'
          UNION ALL SELECT 2, 'ds=2010-01-0' || d, 'p'
          FROM (VALUES ('1'),('2'),('3')) v(d)) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/describe_table.q: table / column / partition
    //      describes in all three verbosities resolve
    QueryDef(
      "q774_qf_describe_table",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q774", sfx)
        def nonEmpty(sql: String): String =
          (HiveQl.sql(s, sql).count() > 0).toString
        val f0 = facts(s, 0, Seq(
          "describe" -> nonEmpty(s"describe $t"),
          "describe_col" -> nonEmpty(s"describe $t key"),
          "describe_part" -> nonEmpty(s"describe $t PARTITION(ds='2008-04-08', hr='12')"),
          "describe_extended" -> nonEmpty(s"describe extended $t"),
          "describe_formatted" -> nonEmpty(s"describe formatted $t")))
        val cols = facts(s, 1, HiveQl.sql(s, s"describe $t").collect().toSeq
          .map(r => r.getString(0) -> r.getString(1))
          .filter(p => p._1.nonEmpty && !p._1.startsWith("#")).distinct.sorted)
        ordered(Seq(f0, cols))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'describe', 'true'), (0, 'describe_col', 'true'),
          (0, 'describe_part', 'true'), (0, 'describe_extended', 'true'),
          (0, 'describe_formatted', 'true'),
          (1, 'key', 'string'), (1, 'value', 'string'),
          (1, 'ds', 'string'), (1, 'hr', 'string'))
          v(sec, c1, c2) ORDER BY sec, c1, c2"""))
  )
}
