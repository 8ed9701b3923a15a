package graft.operators

import org.apache.spark.sql.DataFrame
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 31 (round 15): CLI/session singles —
  * special-char dynamic partitions, hinted TRANSFORM joins, print.header,
  * TOUCH, MSCK repair, parallel multi-insert, database DDL surfaces,
  * variable-substitution recursion, SOURCE scripts, default table
  * parameters, dotted-path DESCRIBE, and small DDL shapes.
  */
object QFileParity31 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, leg, legSql, cnt, RefData}
  import QFileParity.Lines.{facts, ordered}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/partition_special_char.q: '+' and ':' in dynamic
    //      partition VALUES; a second identical insert replaces, not adds
    QueryDef(
      "q857_qf_partition_special_char",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val sc = s"sc_q857_$sfx"
        val scp = s"sc_part_q857_$sfx"
        fresh(s, sc, scp)
        HiveQl.sql(s, s"""create table $sc as select *
          from ((select '2011-01-11', '2011-01-11+14:18:26' from src limit 1)
                union all
                (select '2011-01-11', '2011-01-11+15:18:26' from src limit 1)
                union all
                (select '2011-01-11', '2011-01-11+16:18:26' from src limit 1)) s""")
        HiveQl.sql(s, s"create table $scp (key string) partitioned by (ts string) stored as rcfile")
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        def round(sec: Int): DataFrame = {
          HiveQl.sql(s, s"insert overwrite table $scp partition(ts) select * from $sc")
          facts(s, sec, Seq(
            "partitions" -> HiveQl.sql(s, s"show partitions $scp").count().toString,
            "rows" -> cnt(s, s"select count(*) from $scp where ts is not null").toString))
        }
        val r0 = round(0)
        val r1 = round(1)
        Seq(sc, scp).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(r0, r1))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'partitions|3'), (0, 'rows|3'),
        (1, 'partitions|3'), (1, 'rows|3')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/select_transform_hint.q: MAPJOIN / STREAMTABLE
    //      hints directly on a TRANSFORM select over a join
    QueryDef(
      "q858_qf_select_transform_hint",
      (s, dir) => {
        fixtures(s, dir)
        def q(sec: Int, hint: String) = leg(sec, HiveQl.sql(s,
          s"""SELECT /*+$hint(a)*/
             TRANSFORM(a.key, a.value) USING '/bin/cat' AS (tkey, tvalue)
             FROM src a join src b
             on a.key = b.key""")).localCheckpoint(true)
        ordered(Seq(q(0, "MAPJOIN"), q(1, "STREAMTABLE")))
      },
      Some(s"""$SrcCte,
        m AS (SELECT key, count(1) AS c FROM src GROUP BY key),
        xp AS (SELECT s.key, s.value FROM src s JOIN m ON s.key = m.key,
               range(1, 100000) r(i) WHERE r.i <= m.c),
        legs AS (
          ${legSql(0, Seq("key", "value"), "FROM xp")}
          UNION ALL ${legSql(1, Seq("key", "value"), "FROM xp")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/print_header.q: hive.cli.print.header emits the
    //      tab-joined column-name line before the rows (CLI surface)
    QueryDef(
      "q859_qf_print_header",
      (s, dir) => {
        fixtures(s, dir)
        val bos = new java.io.ByteArrayOutputStream()
        val rdr = new java.io.BufferedReader(new java.io.StringReader(
          """set hive.cli.print.header=true;
            SELECT src.key as k1, sum(substr(src.value,5)) as s1
            FROM src GROUP BY src.key ORDER BY k1 LIMIT 10;
            set hive.cli.print.header=false;"""))
        graft.GraftSql.run(s, rdr, new java.io.PrintStream(bos),
          interactive = false, silent = true)
        val lines = bos.toString("UTF-8").split("\n").filter(_.nonEmpty)
        // the CLI prints SET results as (key, value) rows too, so locate
        // the query's own header line and count its data rows
        val at = lines.indexOf("k1\ts1")
        facts(s, 0, Seq(
          "header_found" -> (at >= 0).toString,
          "data_rows" -> (if (at < 0) "0"
            else lines.drop(at + 1).takeWhile(!_.startsWith("hive.")).length.toString),
          "first_row" -> (if (at >= 0 && at + 1 < lines.length)
            lines(at + 1).replace("\t", ",") else ""))).orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'header_found|true'),
        (0, 'data_rows|10'), (0, 'first_row|0,0.0'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/touch.q: TOUCH refreshes transient_lastDdlTime
    //      at table and partition scope
    QueryDef(
      "q860_qf_touch",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tstsrc_q860_$sfx"
        val tp = s"tstsrcpart_q860_$sfx"
        fresh(s, t, tp)
        val cat = s.sessionState.catalog
        def tTime(x: String): Long =
          cat.getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(x))
            .properties.getOrElse("transient_lastDdlTime", "0").toLong
        HiveQl.sql(s, s"create table $t (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $t select key, value from src")
        HiveQl.sql(s, s"create table $tp (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $tp partition (ds='2008-04-08', hr='12') " +
          "select key, value from srcpart where ds='2008-04-08' and hr='12'")
        val t0 = tTime(t)
        Thread.sleep(1100)
        HiveQl.sql(s, s"ALTER TABLE $t TOUCH")
        HiveQl.sql(s, s"ALTER TABLE $tp TOUCH")
        HiveQl.sql(s, s"ALTER TABLE $tp TOUCH PARTITION (ds='2008-04-08', hr='12')")
        val f = facts(s, 0, Seq(
          "touch_bumps" -> (tTime(t) > t0).toString,
          "rows_intact" -> cnt(s, s"select count(1) from $t").toString))
        Seq(t, tp).foreach(x => HiveQl.sql(s, s"drop table $x"))
        f.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'rows_intact|500'),
        (0, 'touch_bumps|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/repair.q: directories dropped under the table
    //      path surface as partitions only after MSCK REPAIR
    QueryDef(
      "q861_qf_repair",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"repairtable_q861_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(col STRING) PARTITIONED BY (p1 STRING, p2 STRING)")
        val f0 = facts(s, 0, Seq("parts_before" ->
          HiveQl.sql(s, s"show partitions $t").count().toString))
        val root = new org.apache.hadoop.fs.Path(
          s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t)).location)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(root, "p1=a/p2=a"))
        fs.mkdirs(new org.apache.hadoop.fs.Path(root, "p1=b/p2=a"))
        HiveQl.sql(s, s"MSCK REPAIR TABLE $t")
        val f1 = facts(s, 1, Seq("parts_after" ->
          HiveQl.sql(s, s"show partitions $t").count().toString))
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES (0, 'parts_before|0'),
        (1, 'parts_after|2')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/parallel.q: deduping multi-insert into two dests
    //      under hive.exec.parallel, run twice under both input formats
    QueryDef(
      "q862_qf_parallel",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (a, b) = (s"src_a_q862_$sfx", s"src_b_q862_$sfx")
        fresh(s, a, b)
        HiveQl.sql(s, "set hive.exec.parallel=true")
        HiveQl.sql(s, s"create table if not exists $a (key string, value string)")
        HiveQl.sql(s, s"create table if not exists $b (key string, value string)")
        def round(sec: Int): Seq[DataFrame] = {
          HiveQl.sql(s, s"""from (select key, value from src group by key, value) s
            insert overwrite table $a select s.key, s.value group by s.key, s.value
            insert overwrite table $b select s.key, s.value group by s.key, s.value""")
          Seq(leg(sec, HiveQl.sql(s, s"select * from $a order by key, value"))
            .localCheckpoint(true),
            leg(sec + 1, HiveQl.sql(s, s"select * from $b order by key, value"))
              .localCheckpoint(true))
        }
        val r0 = round(0)
        val r1 = round(2)
        HiveQl.sql(s, "set hive.exec.parallel=false")
        Seq(a, b).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(r0 ++ r1)
      },
      Some(s"""$SrcCte, d AS (SELECT DISTINCT key, value FROM src),
        legs AS (
          ${legSql(0, Seq("key", "value"), "FROM d")}
          UNION ALL ${legSql(1, Seq("key", "value"), "FROM d")}
          UNION ALL ${legSql(2, Seq("key", "value"), "FROM d")}
          UNION ALL ${legSql(3, Seq("key", "value"), "FROM d")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/database_location.q + clientpositive/database_properties.q:
    //      LOCATION / COMMENT / DBPROPERTIES surfaces + ALTER DATABASE
    QueryDef(
      "q863_qf_database_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (db1, db2) = (s"db1_q863_$sfx", s"db2_q863_$sfx")
        for (d <- Seq(db1, db2)) HiveQl.sql(s, s"DROP DATABASE IF EXISTS $d CASCADE")
        HiveQl.sql(s, s"CREATE DATABASE $db1")
        val e1 = HiveQl.sql(s, s"DESCRIBE DATABASE EXTENDED $db1").collect()
        HiveQl.sql(s, s"USE $db1")
        HiveQl.sql(s, "CREATE TABLE table_db1 (name STRING, value INT)")
        val f0 = facts(s, 0, Seq(
          "db1_described" -> (e1.nonEmpty).toString,
          "db1_tables" -> HiveQl.sql(s, "SHOW TABLES")
            .where("isTemporary = false").count().toString))
        val loc = s"/tmp/graft_dbloc_q863_$sfx"
        HiveQl.sql(s, s"CREATE DATABASE $db2 COMMENT 'database 2' LOCATION '$loc'")
        val e2 = HiveQl.sql(s, s"DESCRIBE DATABASE EXTENDED $db2").collect()
          .map(r => (0 until r.length).map(i =>
            Option(r.get(i)).map(_.toString).getOrElse("")).mkString(""))
        HiveQl.sql(s, s"USE $db2")
        HiveQl.sql(s, "CREATE TABLE table_db2 (name STRING, value INT)")
        val f1 = facts(s, 1, Seq(
          "db2_comment" -> e2.exists(_.contains("database 2")).toString,
          "db2_location" -> e2.exists(_.contains(loc)).toString,
          "db2_tables" -> HiveQl.sql(s, "SHOW TABLES")
            .where("isTemporary = false").count().toString))
        HiveQl.sql(s, "USE default")
        for (d <- Seq(db1, db2)) HiveQl.sql(s, s"DROP DATABASE IF EXISTS $d CASCADE")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'db1_described|true'), (0, 'db1_tables|1'),
        (1, 'db2_comment|true'), (1, 'db2_location|true'), (1, 'db2_tables|1'))
        v(sec, c1) ORDER BY sec, c1""")),

    QueryDef(
      "q864_qf_database_properties",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val db = s"db2_q864_$sfx"
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        HiveQl.sql(s, s"""create database $db with dbproperties (
          'mapred.jobtracker.url'='http://my.jobtracker.com:53000',
          'hive.warehouse.dir' = '/user/hive/warehouse',
          'mapred.scratch.dir' = 'hdfs://tmp.dfs.com:50029/tmp')""")
        def props: String = HiveQl.sql(s, s"describe database extended $db")
          .collect().map(r => (0 until r.length).map(i =>
            Option(r.get(i)).map(_.toString).getOrElse("")).mkString(""))
          .mkString("")
        val p0 = props
        HiveQl.sql(s, s"""alter database $db set dbproperties (
          'new.property' = 'some new props',
          'hive.warehouse.dir' = 'new/warehouse/dir')""")
        val p1 = props
        val f = facts(s, 0, Seq(
          // Spark redacts property VALUES whose key matches (?i)url
          // (spark.sql.redaction.options.regex) — pin the KEY's presence
          "jobtracker" -> p0.contains("mapred.jobtracker.url").toString,
          "orig_whdir" -> p0.contains("/user/hive/warehouse").toString,
          "new_prop" -> p1.contains("some new props").toString,
          "updated_whdir" -> p1.contains("new/warehouse/dir").toString))
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        f.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'jobtracker|true'), (0, 'new_prop|true'),
        (0, 'orig_whdir|true'), (0, 'updated_whdir|true'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/set_variable_sub.q: hivevar recursion incl. a
    //      variable whose NAME is itself a variable
    QueryDef(
      "q865_qf_set_variable_sub",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hivevar:key1=value1")
        val f0 = facts(s, 0, Seq(
          "bare" -> HiveQl.sql(s, "select \"${key1}\" as v from src limit 1")
            .collect()(0).getString(0),
          "prefixed" -> HiveQl.sql(s, "select \"${hivevar:key1}\" as v from src limit 1")
            .collect()(0).getString(0)))
        HiveQl.sql(s, "set hivevar:a=1")
        HiveQl.sql(s, "set hivevar:b=a")
        HiveQl.sql(s, "set hivevar:c=${hivevar:${hivevar:b}}")
        val f1 = facts(s, 1, Seq("recursive" ->
          HiveQl.sql(s, "select \"${hivevar:c}\" as v from src limit 1")
            .collect()(0).getString(0)))
        f0.union(f1).orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'bare|value1'), (0, 'prefixed|value1'),
        (1, 'recursive|1')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/no_hooks.q: the filtered self-join with hooks
    //      cleared (SET hive.exec.pre.hooks=)
    QueryDef(
      "q866_qf_no_hooks",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.exec.pre.hooks=")
        leg(0, HiveQl.sql(s,
          """SELECT * FROM src src1 JOIN src src2 WHERE src1.key < 10 and src2.key < 10
             SORT BY src1.key, src1.value, src2.key, src2.value"""))
          .orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, small AS (SELECT key, value FROM src WHERE CAST(key AS DOUBLE) < 10),
        legs AS (${legSql(0, Seq("a.key", "a.value", "b.key", "b.value"),
          "FROM small a, small b")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/progress_1.q: kv6 load + self-join count under a
    //      heartbeat conf
    QueryDef(
      "q867_qf_progress_1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"progress_1_q867_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "set hive.heartbeat.interval=5")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) STORED AS TEXTFILE")
        HiveQl.sql(s, "LOAD DATA LOCAL INPATH " +
          s"'$RefData/kv6.txt' INTO TABLE $t")
        val f = facts(s, 0, Seq("join_cnt" ->
          cnt(s, s"select count(1) from $t t1 join $t t2 on t1.key=t2.key").toString))
        HiveQl.sql(s, s"drop table $t")
        f.orderBy("sec", "c1")
      },
      Some(s"""WITH kv6 AS (SELECT * FROM read_csv(
          '$RefData/kv6.txt', delim=chr(1), header=false,
          auto_detect=false, quote='', columns={'key': 'INT', 'value': 'VARCHAR'})),
        j AS (SELECT count(1) AS c FROM kv6 a JOIN kv6 b ON a.key = b.key)
        SELECT 0 AS sec, 'join_cnt|' || CAST(c AS VARCHAR) AS c1 FROM j""")),

    // ---- clientpositive/source.q: the CLI SOURCE command runs a script
    //      file in the same session
    QueryDef(
      "q868_qf_source",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_from_source_q868_$sfx"
        fresh(s, t)
        val f = java.io.File.createTempFile("graft_source_q868", ".txt")
        val pw = new java.io.PrintWriter(f)
        pw.println(s"create table $t as select key, value from src where key < 10;")
        pw.close()
        val rdr = new java.io.BufferedReader(new java.io.StringReader(
          s"source ${f.getAbsolutePath};"))
        graft.GraftSql.run(s, rdr,
          new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
          interactive = false, silent = true)
        f.delete()
        val d = leg(0, HiveQl.sql(s, s"select * from $t")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        d.orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (${legSql(0, Seq("key", "value"),
        "FROM src WHERE CAST(key AS DOUBLE) < 10")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/create_default_prop.q: hive.table.parameters
    //      .default lands on plain / LIKE / CTAS creates; a value may
    //      itself contain '='
    QueryDef(
      "q869_qf_create_default_prop",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (p1, p2, p3) = (s"table_p1_q869_$sfx", s"table_p2_q869_$sfx",
          s"table_p3_q869_$sfx")
        fresh(s, p1, p2, p3)
        val cat = s.sessionState.catalog
        def props(t: String): Map[String, String] =
          cat.getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(t))
            .properties
        HiveQl.sql(s, "set hive.table.parameters.default=p1=v1,P2=v21=v22=v23")
        HiveQl.sql(s, s"CREATE TABLE $p1 (a STRING)")
        val f0 = facts(s, 0, Seq(
          "p1" -> props(p1).getOrElse("p1", "-"),
          "P2" -> props(p1).getOrElse("P2", "-")))
        HiveQl.sql(s, "set hive.table.parameters.default=p3=v3")
        HiveQl.sql(s, s"CREATE TABLE $p2 LIKE $p1")
        val f1 = facts(s, 1, Seq("p3" -> props(p2).getOrElse("p3", "-")))
        HiveQl.sql(s, s"CREATE TABLE $p3 AS SELECT * FROM $p1")
        val f2 = facts(s, 2, Seq("p3" -> props(p3).getOrElse("p3", "-")))
        HiveQl.sql(s, "set hive.table.parameters.default=")
        Seq(p1, p2, p3).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES (0, 'P2|v21=v22=v23'), (0, 'p1|v1'),
        (1, 'p3|v3'), (2, 'p3|v3')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/describe_xpath.q: dotted column DESCRIBE with
    //      $elem$ / $key$ / $value$ steps over the thrift fixture
    QueryDef(
      "q870_qf_describe_xpath",
      (s, dir) => {
        fixtures(s, dir)
        def d(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql)).localCheckpoint(true)
        ordered(Seq(
          d(0, "describe src_thrift.lint"),
          d(1, "describe src_thrift.lint.$elem$"),
          d(2, "describe src_thrift.mStringString.$key$"),
          d(3, "describe src_thrift.mStringString.$value$"),
          d(4, "describe src_thrift.lintString.$elem$"),
          d(5, "describe src_thrift.lintString.$elem$.myint")))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'lint|array<int>|from deserializer'),
        (1, '$elem$|int|from deserializer'),
        (2, '$key$|string|from deserializer'),
        (3, '$value$|string|from deserializer'),
        (4, 'myint|int|from deserializer'),
        (4, 'mystring|string|from deserializer'),
        (4, 'underscore_int|int|from deserializer'),
        (5, 'myint|int|from deserializer')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/ct_case_insensitive.q + clientpositive/showparts.q: bucket
    //      column case-insensitivity; SHOW PARTITIONS over the 4-part table
    QueryDef(
      "q871_qf_ct_case_insensitive",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tmp_pyang_bucket3_q871_$sfx"
        val sp = s"showparts_q871_$sfx"
        fresh(s, t, sp)
        HiveQl.sql(s, s"CREATE TABLE $t (userId INT) CLUSTERED BY (userid) INTO 32 BUCKETS")
        HiveQl.sql(s, s"DROP TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $t (userId INT) CLUSTERED BY (userid) " +
          "SORTED BY (USERID) INTO 32 BUCKETS")
        val f0 = facts(s, 0, Seq("created" ->
          s.catalog.tableExists(t).toString))
        // showparts.q: SHOW PARTITIONS over a real partitioned srcpart copy
        HiveQl.sql(s, s"create table $sp (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, s"insert overwrite table $sp partition (ds, hr) select * from srcpart")
        val p = facts(s, 1, HiveQl.sql(s, s"SHOW PARTITIONS $sp").collect()
          .map(r => (r.getString(0), "present")).sorted)
        Seq(t, sp).foreach(x => HiveQl.sql(s, s"drop table $x"))
        ordered(Seq(f0, p))
      },
      Some("""SELECT * FROM (VALUES (0, 'created|true'),
        (1, 'ds=2008-04-08/hr=11|present'), (1, 'ds=2008-04-08/hr=12|present'),
        (1, 'ds=2008-04-09/hr=11|present'), (1, 'ds=2008-04-09/hr=12|present'))
        v(sec, c1) ORDER BY sec, c1"""))
  )
}
