package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 32 (round 15): the mapjoin .q family,
  * input_part shapes (incl. '=' and space in partition VALUES), dfs -cat,
  * the exim_01 test-mode round trip, stats15, and the bucketed-write
  * merge suppression.
  *
  * (clientpositive/describe_function.q is EMPTY upstream — zero
  * statements; DESCRIBE FUNCTION itself is covered by q605/q701 and
  * FunctionParitySpec.)
  */
object QFileParity32 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, Src1Cte, SrcPartCte, leg, legSql, RefData}
  import QFileParity.Lines.{facts, ordered}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/mapjoin1.q: hinted broadcast join sum under a
    //      small mapjoin row cache
    QueryDef(
      "q872_qf_mapjoin1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.mapjoin.cache.numrows=100")
        leg(0, HiveQl.sql(s,
          """SELECT /*+ MAPJOIN(b) */ sum(a.key) as sum_a
             FROM srcpart a
             JOIN src b ON a.key = b.key where a.ds is not null""")
          .selectExpr("cast(sum_a as bigint) as sum_a"))
          .orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte,
        m AS (SELECT key, count(1) AS c FROM src GROUP BY key),
        j AS (SELECT sum(CAST(sp.key AS BIGINT) * m.c) AS sum_a
              FROM srcpart sp JOIN m ON sp.key = m.key)
        SELECT 0 AS sec, CAST(sum_a AS VARCHAR) AS c1 FROM j""")),

    // ---- clientpositive/mapjoin_distinct.q: MAPJOIN + DISTINCT under all
    //      four map.aggr/skewindata combinations — identical first-10s
    QueryDef(
      "q873_qf_mapjoin_distinct",
      (s, dir) => {
        fixtures(s, dir)
        val combos = Seq(("true", "true"), ("true", "false"),
          ("false", "true"), ("false", "false"))
        val legs = combos.zipWithIndex.map { case ((aggr, skew), i) =>
          HiveQl.sql(s, s"set hive.map.aggr = $aggr")
          HiveQl.sql(s, s"set hive.groupby.skewindata = $skew")
          leg(i, HiveQl.sql(s,
            """FROM srcpart c
               JOIN srcpart d
               ON ( c.key=d.key AND c.ds='2008-04-08' AND d.ds='2008-04-08')
               SELECT /*+ MAPJOIN(d) */ DISTINCT c.value as value order by value limit 10"""))
            .localCheckpoint(true)
        }
        ordered(legs)
      },
      Some(s"""$SrcCte,
        top AS (SELECT DISTINCT value FROM src ORDER BY value LIMIT 10),
        legs AS (
          ${legSql(0, Seq("value"), "FROM top")}
          UNION ALL ${legSql(1, Seq("value"), "FROM top")}
          UNION ALL ${legSql(2, Seq("value"), "FROM top")}
          UNION ALL ${legSql(3, Seq("value"), "FROM top")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/mapjoin_subquery.q: MAPJOIN inside AND outside a
    //      subquery, partition-pinned outer join side
    QueryDef(
      "q874_qf_mapjoin_subquery",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          """SELECT /*+ MAPJOIN(z) */ subq.key1, z.value
             FROM
             (SELECT /*+ MAPJOIN(x) */ x.key as key1, x.value as value1, y.key as key2, y.value as value2
              FROM src1 x JOIN src y ON (x.key = y.key)) subq
             JOIN srcpart z ON (subq.key1 = z.key and z.ds='2008-04-08' and z.hr=11)"""))
          .orderBy("sec", "c1")
      },
      Some(s"""$Src1Cte,
        m AS (SELECT key, count(1) AS c FROM src GROUP BY key),
        j1 AS (SELECT s1.key AS key1, m.c FROM src1 s1 JOIN m ON s1.key = m.key),
        z AS (SELECT key, value FROM src),
        xp AS (SELECT j1.key1, z.value, j1.c FROM j1 JOIN z ON j1.key1 = z.key,
               range(1, 100000) r(i) WHERE r.i <= j1.c),
        legs AS (${legSql(0, Seq("key1", "value"), "FROM xp")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/mapjoin_mapjoin.q: two chained MAPJOINed small
    //      sides, grouped by the partition column
    QueryDef(
      "q875_qf_mapjoin_mapjoin",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          """select /*+MAPJOIN(src, src1) */ count(*) as c from srcpart
             join src src on (srcpart.value=src.value)
             join src src1 on (srcpart.key=src1.key) group by ds"""))
          .orderBy("sec", "c1")
      },
      Some(s"""$SrcCte,
        mv AS (SELECT value, count(1) AS cv FROM src GROUP BY value),
        mk AS (SELECT key, count(1) AS ck FROM src GROUP BY key),
        per AS (SELECT sum(mv.cv * mk.ck) AS c FROM src s
                JOIN mv ON s.value = mv.value JOIN mk ON s.key = mk.key),
        -- two ds groups, each holding BOTH hr copies of src -> 2x per row
        legs AS (SELECT 0 AS sec, CAST(c * 2 AS VARCHAR) AS c1 FROM per, range(2))
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/input_part8.q + clientpositive/input_part9.q: partition LIMIT
    //      (count facts) and the full NOT NULL ordered dump
    QueryDef(
      "q876_qf_input_part8",
      (s, dir) => {
        fixtures(s, dir)
        val rows = HiveQl.sql(s,
          "SELECT x.* FROM SRCPART x WHERE ds = '2008-04-08' LIMIT 10").collect()
        facts(s, 0, Seq(
          "cnt" -> rows.length.toString,
          "all_ds" -> rows.forall(_.getString(2) == "2008-04-08").toString))
          .orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'all_ds|true'), (0, 'cnt|10'))
        v(sec, c1) ORDER BY sec, c1""")),

    QueryDef(
      "q877_qf_input_part9",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          """SELECT x.* FROM SRCPART x WHERE key IS NOT NULL AND ds = '2008-04-08'
             order by x.key, x.hr""")).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte, legs AS (${legSql(0,
        Seq("key", "value", "ds", "hr"),
        "FROM srcpart WHERE key IS NOT NULL AND ds = '2008-04-08'")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/input_part10.q: SPACE and '=' inside static
    //      partition VALUES — path escaping + partition describe + read
    QueryDef(
      "q878_qf_input_part10",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"part_special_q878_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"""CREATE TABLE $t (
          a STRING, b STRING) PARTITIONED BY (ds STRING, ts STRING)""")
        HiveQl.sql(s, s"""INSERT OVERWRITE TABLE $t PARTITION(ds='2008 04 08', ts = '10:11:12=455')
          SELECT 1, 2 FROM src LIMIT 1""")
        val desc = HiveQl.sql(s, s"DESCRIBE EXTENDED $t " +
          "PARTITION(ds='2008 04 08', ts = '10:11:12=455')").count()
        val d = leg(1, HiveQl.sql(s,
          s"SELECT * FROM $t WHERE ds='2008 04 08' AND ts = '10:11:12=455'"))
          .localCheckpoint(true)
        val f = facts(s, 0, Seq("describe_rows" -> (desc > 0).toString))
        HiveQl.sql(s, s"drop table $t")
        f.union(d).orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES (0, 'describe_rows|true'),
        (1, '1|2|2008 04 08|10:11:12=455')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/input_dfs.q: `dfs -cat` through the CLI's
    //      in-process FsShell
    QueryDef(
      "q879_qf_input_dfs",
      (s, dir) => {
        fixtures(s, dir)
        val bos = new java.io.ByteArrayOutputStream()
        val rdr = new java.io.BufferedReader(new java.io.StringReader(
          s"dfs -cat file://$RefData/kv1.txt;"))
        graft.GraftSql.run(s, rdr, new java.io.PrintStream(bos),
          interactive = false, silent = true)
        val lines = bos.toString("UTF-8").split("\n").count(_.contains("val_"))
        facts(s, 0, Seq("lines" -> lines.toString)).orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, 'lines|500' AS c1")),

    // ---- clientpositive/exim_01_nonpart.q: test-mode export → import
    //      into a fresh database; the export dir is REMOVED after import
    //      and the data still reads (the copy is real)
    QueryDef(
      "q880_qf_exim_01_nonpart",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_department_q880_$sfx"
        val db = s"importer_q880_$sfx"
        val exp = s"/tmp/graft_exim/q880_$sfx"
        fresh(s, t)
        val p = new org.apache.hadoop.fs.Path(exp)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        HiveQl.sql(s, "set hive.test.mode=true")
        HiveQl.sql(s, "set hive.test.mode.prefix=")
        HiveQl.sql(s, s"set hive.test.mode.nosamplelist=$t,exim_employee")
        HiveQl.sql(s, s"""create table $t ( dep_id int comment "department id")
          stored as textfile
          tblproperties("creator"="krishna")""")
        HiveQl.sql(s, s"""load data local inpath "$RefData/test.dat" into table $t""")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop database if exists $db cascade")
        HiveQl.sql(s, s"create database $db")
        HiveQl.sql(s, s"use $db")
        val out = try {
          HiveQl.sql(s, s"import from '$exp'")
          val f0 = facts(s, 0, Seq(
            "described" -> (HiveQl.sql(s, s"describe extended $t").count() > 0).toString,
            "extended" -> (HiveQl.sql(s, s"show table extended like $t").count() > 0).toString))
          fs.delete(p, true)
          s.catalog.refreshTable(t)
          val d = leg(1, HiveQl.sql(s, s"select * from $t")).localCheckpoint(true)
          HiveQl.sql(s, s"drop table $t")
          f0.union(d)
        } finally {
          HiveQl.sql(s, "use default")
          HiveQl.sql(s, s"drop database if exists $db cascade")
          HiveQl.sql(s, "set hive.test.mode=false")
        }
        out.orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'described|true'), (0, 'extended|true'),
        (1, '1'), (1, '2'), (1, '3'), (1, '4'), (1, '5'), (1, '6'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/stats15.q: ANALYZE at table / static-partition /
    //      fully-dynamic scopes; table rollup reflects all partitions
    QueryDef(
      "q881_qf_stats15",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val st = s"stats_src_q881_$sfx"
        val sp = s"stats_part_q881_$sfx"
        fresh(s, st, sp)
        val cat = s.sessionState.catalog
        def tRows(t: String): String =
          cat.getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(t))
            .properties.getOrElse("numRows", "-")
        def pRows(t: String, hr: String): String =
          cat.listPartitions(s.sessionState.sqlParser.parseTableIdentifier(t),
            Some(Map("ds" -> "2010-04-08", "hr" -> hr))).head
            .parameters.getOrElse("numRows", "-")
        HiveQl.sql(s, s"create table $st (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $st select * from src")
        HiveQl.sql(s, s"analyze table $st compute statistics")
        val f0 = facts(s, 0, Seq("src_rows" -> tRows(st)))
        HiveQl.sql(s, s"create table $sp (key string, value string) " +
          "partitioned by (ds string, hr string)")
        for (hr <- Seq("11", "12"))
          HiveQl.sql(s, s"insert overwrite table $sp partition (ds='2010-04-08', hr = '$hr') " +
            "select key, value from src")
        for (hr <- Seq("11", "12"))
          HiveQl.sql(s, s"analyze table $sp partition(ds='2010-04-08', hr='$hr') compute statistics")
        HiveQl.sql(s, s"insert overwrite table $sp partition (ds='2010-04-08', hr = '13') " +
          "select key, value from src")
        val f1 = facts(s, 1, Seq(
          "p11_rows" -> pRows(sp, "11"), "p12_rows" -> pRows(sp, "12")))
        HiveQl.sql(s, s"analyze table $sp partition(ds, hr) compute statistics")
        val f2 = facts(s, 2, Seq(
          "p13_rows" -> pRows(sp, "13"), "table_rows" -> tRows(sp)))
        Seq(st, sp).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'src_rows|500'),
        (1, 'p11_rows|500'), (1, 'p12_rows|500'),
        (2, 'p13_rows|500'), (2, 'table_rows|1500')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/disable_merge_for_bucketing.q: the small-file
    //      merge must NOT touch a bucketed write (layout is positional);
    //      the ON-less sample still answers by the catalog spec
    QueryDef(
      "q882_qf_disable_merge_for_bucketing",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"bucket2_1_q882_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        HiveQl.sql(s, "set hive.merge.mapredfiles=false")
        val meta = s.sessionState.catalog.getTableMetadata(
          s.sessionState.sqlParser.parseTableIdentifier(t))
        val root = new org.apache.hadoop.fs.Path(meta.location)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val files = fs.listStatus(root).count(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        val f0 = facts(s, 0, Seq(
          "bucket_files_intact" -> (files >= 2).toString,
          "still_bucketed" -> meta.bucketSpec.isDefined.toString))
        val d = leg(1, HiveQl.sql(s,
          s"select * from $t tablesample (bucket 1 out of 2) s order by key"))
          .localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        f0.union(d).orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (
        SELECT * FROM (VALUES (0, 'bucket_files_intact|true'),
          (0, 'still_bucketed|true')) v(sec, c1)
        UNION ALL ${legSql(1, Seq("CAST(key AS INT)", "value"),
          "FROM src WHERE CAST(key AS INT) % 2 = 0")})
        SELECT * FROM legs ORDER BY sec, c1"""))
  )
}
