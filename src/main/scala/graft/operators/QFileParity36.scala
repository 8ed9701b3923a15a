package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 36 (round 15): autogen column aliases,
  * binary-sortable keys, columnar-serde shortcut, default file format,
  * script-extracted urls (input37), nested virtual columns, lineage1,
  * mapjoin_hook, semantic-analyzer hooks, loadpart_err, SET namespaces,
  * partition-vs-table metadata, UpdateInputAccessTimeHook.
  */
object QFileParity36 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, Src1Cte, leg, cnt, RefRoot, RefData,
    RefScripts}
  import QFileParity.Lines.{facts, ordered}

  private def descCols(s: SparkSession, t: String): String =
    HiveQl.sql(s, s"describe $t").collect()
      .takeWhile(r => r.getString(0).nonEmpty && !r.getString(0).startsWith("#"))
      .map(r => r.getString(0) + ":" + r.getString(1)).mkString(";")

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/autogen_colalias.q: unaliased CTAS expressions
    //      get Hive's generated names — positional `_cN` by default;
    //      with hive.autogen.columnalias.prefix.label/.includefuncname,
    //      a 20-char flattened-function prefix + position
    //      (SemanticAnalyzer.getColAlias)
    QueryDef(
      "q906_qf_autogen_colalias",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val o1 = s"dest_grouped_old1_q906_$sfx"
        val o2 = s"dest_grouped_old2_q906_$sfx"
        val n1 = s"dest_grouped_new1_q906_$sfx"
        val n2 = s"dest_grouped_new2_q906_$sfx"
        fresh(s, o1, o2, n1, n2)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_max AS " +
          "'org.apache.hadoop.hive.ql.udf.UDAFTestMax'")
        try {
          HiveQl.sql(s, s"""create table $o1 as select 1+1, 2+2 as zz, src.key,
            test_max(length(src.value)), count(src.value), sin(count(src.value)),
            count(sin(src.value)), unix_timestamp(),
            CAST(SUM(IF(value > 10, value, 1)) AS INT), if(src.key > 1,
            1,
            0)
            from src group by src.key""")
          HiveQl.sql(s, s"create table $o2 as select distinct src.key from src")
          HiveQl.sql(s, "set hive.autogen.columnalias.prefix.label=column_")
          HiveQl.sql(s, "set hive.autogen.columnalias.prefix.includefuncname=true")
          HiveQl.sql(s, s"""create table $n1 as select 1+1, 2+2 as zz,
            ((src.key % 2)+2)/2, test_max(length(src.value)), count(src.value),
            sin(count(src.value)), count(sin(src.value)), unix_timestamp(),
            CAST(SUM(IF(value > 10, value, 1)) AS INT), if(src.key > 10,
            (src.key +5) % 2,
            0)
            from src group by src.key""")
          HiveQl.sql(s, s"create table $n2 as select distinct src.key from src")
          ordered(Seq(
            facts(s, 0, Seq("old1" -> descCols(s, o1))),
            facts(s, 1, Seq("old2" -> descCols(s, o2))),
            facts(s, 2, Seq("new1" -> descCols(s, n1))),
            facts(s, 3, Seq("new2" -> descCols(s, n2)))))
        } finally {
          HiveQl.sql(s, "set hive.autogen.columnalias.prefix.label=_c")
          HiveQl.sql(s, "set hive.autogen.columnalias.prefix.includefuncname=false")
          Seq(o1, o2, n1, n2).foreach(t => HiveQl.sql(s, s"drop table if exists $t"))
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'old1|_c0:int;zz:int;key:string;_c3:int;_c4:bigint;_c5:double;_c6:bigint;_c7:bigint;_c8:int;_c9:int'),
        (1, 'old2|key:string'),
        (2, 'new1|column_0:int;zz:int;column_2:double;test_max_length_src__3:int;count_src_value_4:bigint;sin_count_src_value_5:double;count_sin_src_value_6:bigint;unix_timestamp_7:bigint;sum_if_value_10_valu_8:int;if_src_key_10_src_ke_9:double'),
        (3, 'new2|key:string')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/binarysortable_1.q: group-by keys carrying
    //      \x00/\x01/\x02 bytes survive the shuffle (the reference's
    //      BinarySortableSerDe escape test); output visualized with
    //      regexp_replace. Golden values transcribed from
    //      binarysortable_1.q.out
    QueryDef(
      "q907_qf_binarysortable_1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"mytable_q907_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, value STRING) " +
          "ROW FORMAT DELIMITED FIELDS TERMINATED BY '9' STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/string.txt' INTO TABLE $t")
        val df = HiveQl.sql(s, s"""
          SELECT REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(key, '\\001', '^A'), '\\0', '^@'), '\\002', '^B') AS k, value
          FROM (
            SELECT key, sum(value) as value
            FROM $t
            GROUP BY key
          ) a""").orderBy("k")
        val out = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        out.toDF("k", "value")
      },
      Some("""SELECT k, CAST(value AS DOUBLE) AS value FROM (VALUES
        ('^@^@^@', 7), ('^@^A^@', 9), ('^@test^@', 2),
        ('^A^@^A', 10), ('^A^A^A', 8), ('^Atest^A', 3),
        ('a^@bc^A^B^A^@', 1), ('test^@^@^A^Atest', 6),
        ('test^@test', 4), ('test^Atest', 5)) v(k, value) ORDER BY k""")),

    // ---- clientpositive/columnarserde_create_shortcut.q: STORED AS RCFILE
    //      shortcut carries complex columns (ColumnarSerDe per-column
    //      LazySimple encoding); ADD/REPLACE COLUMNS re-read old files.
    //      Element values transcribed from the golden (the fixture is the
    //      reference's own complex.seq)
    QueryDef(
      "q908_qf_columnarserde_create_shortcut",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"columnarserde_q908_$sfx"
        val t2 = s"columnshortcut_q908_$sfx"
        fresh(s, t, t2)
        HiveQl.sql(s, s"CREATE TABLE $t(a array<int>, b array<string>, " +
          "c map<string,string>, d int, e string) STORED AS RCFILE")
        HiveQl.sql(s, s"FROM src_thrift INSERT OVERWRITE TABLE $t SELECT " +
          "src_thrift.lint, src_thrift.lstring, src_thrift.mstringstring, " +
          "src_thrift.aint, src_thrift.astring DISTRIBUTE BY 1")
        val el = HiveQl.sql(s, s"SELECT $t.a[0] AS a0, $t.b[0] AS b0, " +
          s"$t.c['key2'] AS ck, $t.d, $t.e FROM $t DISTRIBUTE BY 1")
        HiveQl.sql(s, s"CREATE table $t2 (key STRING, value STRING) STORED AS RCFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $t2 SELECT src.key, src.value LIMIT 10")
        val shape0 = descCols(s, t2)
        val n10 = cnt(s, s"select count(*) from $t2")
        // every loaded pair is a real src pair (anti-join survivor count 0;
        // a plain join over-counts because src repeats pairs)
        val member = cnt(s, s"select count(*) from $t2 x left anti join src y " +
          "on x.key = y.key and x.value = y.value")
        HiveQl.sql(s, s"ALTER TABLE $t2 ADD COLUMNS (c string)")
        val cNulls = cnt(s, s"select count(*) from $t2 where c is null")
        HiveQl.sql(s, s"ALTER TABLE $t2 REPLACE COLUMNS (key int)")
        val shape1 = descCols(s, t2)
        val intKeys = cnt(s, s"select count(*) from $t2 where key is not null")
        val out = {
          import s.implicits._
          ordered(Seq(leg(0, el),
            facts(s, 1, Seq(
              "shape_before" -> shape0, "rows" -> n10.toString,
              "pairs_from_src" -> member.toString,
              "added_col_nulls" -> cNulls.toString,
              "shape_after_replace" -> shape1,
              "int_keys" -> intKeys.toString))))
            .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
            .toDF("sec", "c1")
        }
        Seq(t, t2).foreach(x => HiveQl.sql(s, s"drop table $x"))
        out
      },
      Some("""SELECT sec, c1 FROM (
        SELECT 0 AS sec, CAST(a0 AS VARCHAR) || '|' || b0 || '|NULL|' ||
               CAST(d AS VARCHAR) || '|' || e AS c1
        FROM (VALUES
          (0, '0', 1712634731, 'record_0'), (1, '10', 465985200, 'record_1'),
          (2, '20', -751827638, 'record_2'), (3, '30', 477111222, 'record_3'),
          (4, '40', -734328909, 'record_4'), (5, '50', -1952710710, 'record_5'),
          (6, '60', 1244525190, 'record_6'), (7, '70', -1461153973, 'record_7'),
          (8, '80', 1638581578, 'record_8'), (9, '90', 336964413, 'record_9'))
          g(a0, b0, d, e)
        UNION ALL SELECT 0, 'NULL|NULL|NULL|0|NULL'
        UNION ALL SELECT 1, 'shape_before|key:string;value:string'
        UNION ALL SELECT 1, 'rows|10'
        UNION ALL SELECT 1, 'pairs_from_src|0'
        UNION ALL SELECT 1, 'added_col_nulls|10'
        UNION ALL SELECT 1, 'shape_after_replace|key:int'
        UNION ALL SELECT 1, 'int_keys|10') u ORDER BY sec, c1""")),

    // ---- clientpositive/rcfile_default_format.q: hive.default.fileformat
    //      selects the format for plain CREATE and CTAS; explicit STORED AS
    //      overrides; resetting to TextFile restores
    QueryDef(
      "q909_qf_rcfile_default_format",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"rcfile_default_format_q909_$sfx"
        val t2 = s"rcfile_default_format_ctas_q909_$sfx"
        val t3 = s"rcfile_default_format_txtfile_q909_$sfx"
        val t4 = s"textfile_default_format_ctas_q909_$sfx"
        fresh(s, t1, t2, t3, t4)
        def prov(t: String): String = s.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).provider.getOrElse("")
          .split('.').last
        try {
          HiveQl.sql(s, "SET hive.default.fileformat = RCFile")
          HiveQl.sql(s, s"CREATE TABLE $t1 (key STRING)")
          HiveQl.sql(s, s"CREATE TABLE $t2 AS SELECT key,value FROM src")
          HiveQl.sql(s, s"CREATE TABLE $t3 (key STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t3 SELECT key from src")
          HiveQl.sql(s, "SET hive.default.fileformat = TextFile")
          HiveQl.sql(s, s"CREATE TABLE $t4 AS SELECT key,value FROM $t2")
          ordered(Seq(facts(s, 0, Seq(
            "t1_fmt" -> prov(t1), "t2_fmt" -> prov(t2),
            "t3_fmt" -> prov(t3), "t4_fmt" -> prov(t4),
            "t2_rows" -> cnt(s, s"select count(*) from $t2").toString,
            "t4_rows" -> cnt(s, s"select count(*) from $t4").toString))))
        } finally {
          HiveQl.sql(s, "SET hive.default.fileformat = TextFile")
          Seq(t1, t2, t3, t4).foreach(t => HiveQl.sql(s, s"drop table if exists $t"))
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 't1_fmt|HiveRCSource'), (0, 't2_fmt|HiveRCSource'),
        (0, 't3_fmt|HiveTextSource'), (0, 't4_fmt|HiveTextSource'),
        (0, 't2_rows|500'), (0, 't4_rows|500')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/input37.q: MAP ... USING a url-extracting script
    //      (the reference runs its compiled extracturl.java over stdin; the
    //      engine runs the equivalent grep/sed pipeline — same pattern,
    //      one output line per MATCH, tab-separated url/count)
    QueryDef(
      "q910_qf_input37",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"documents_q910_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(contents string) stored as textfile")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/docurl.txt' INTO TABLE $t")
        val script = s"/tmp/graft_extracturl_$sfx.sh"
        java.nio.file.Files.write(java.nio.file.Paths.get(script),
          ("#!/bin/sh\n" +
            "grep -o '<a href=\"http://[A-Za-z0-9]*\\.html\">link</a>' | " +
            "sed 's|<a href=\"http://||;s|\">link</a>|\t1|'\n").getBytes("UTF-8"))
        new java.io.File(script).setExecutable(true)
        HiveQl.sql(s, s"ADD FILE $script")
        val df = HiveQl.sql(s, s"""select url, count(1) AS cnt
          FROM (
            FROM $t
            MAP $t.contents
            USING '${script.split('/').last}' AS (url, count)
          ) subq
          group by url""").orderBy("url")
        val out = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        out.toDF("url", "cnt")
      },
      Some("""SELECT * FROM (VALUES
        ('1uauniajqtunlsvadmxhlxvngxpqjuzbpzvdiwmzphmbaicduzkgxgtdeiunduosu.html', CAST(4 AS BIGINT)),
        ('4uzsbtwvdypfitqfqdjosynqp.html', CAST(4 AS BIGINT))) v(url, cnt)
        ORDER BY url""")),

    // ---- clientpositive/nestedvirtual.q: virtual columns inside a
    //      subquery feeding a join, three times over (CTAS + drop cycle)
    QueryDef(
      "q911_qf_nestedvirtual",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val p1 = s"pokes_q911_$sfx"
        val p2 = s"pokes2_q911_$sfx"
        val ct = s"jssarma_nilzma_bad_q911_$sfx"
        val outs = (0 until 3).map { i =>
          fresh(s, p1, p2, ct)
          HiveQl.sql(s, s"CREATE TABLE $p1 (foo INT, bar STRING)")
          HiveQl.sql(s, s"create table $p2 (foo INT, bar STRING)")
          HiveQl.sql(s, s"create table $ct as select a.val, a.filename, " +
            s"a.offset from (select hash(foo) as val, INPUT__FILE__NAME as " +
            s"filename, BLOCK__OFFSET__INSIDE__FILE as offset from $p1) a " +
            s"join $p2 b on (a.val = b.foo)")
          val f = facts(s, i, Seq(
            "cols" -> descCols(s, ct),
            "rows" -> cnt(s, s"select count(*) from $ct").toString))
          HiveQl.sql(s, s"drop table $ct")
          HiveQl.sql(s, s"drop table $p1")
          HiveQl.sql(s, s"drop table $p2")
          f
        }
        ordered(outs)
      },
      Some("""SELECT sec, 'cols|val:int;filename:string;offset:bigint' AS c1
        FROM (VALUES (0), (1), (2)) v(sec)
        UNION ALL SELECT sec, 'rows|0' FROM (VALUES (0), (1), (2)) v(sec)
        ORDER BY sec, c1""")),

    // ---- clientpositive/lineage1.q: INSERT OVERWRITE through a UNION ALL
    //      of two left outer joins (the lineage hook's test body — the
    //      engine's observable is the materialized result)
    QueryDef(
      "q912_qf_lineage1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"dest_l1_q912_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"""INSERT OVERWRITE TABLE $t
          SELECT j.*
          FROM (SELECT t1.key, p1.value
                FROM src1 t1
                LEFT OUTER JOIN src p1
                ON (t1.key = p1.key)
                UNION ALL
                SELECT t2.key, p2.value
                FROM src1 t2
                LEFT OUTER JOIN src p2
                ON (t2.key = p2.key)) j""")
        val df = HiveQl.sql(s, s"SELECT * FROM $t")
          .orderBy(col("key").asc_nulls_first, col("value").asc_nulls_first)
        val out = df.collect().map(r =>
          (if (r.isNullAt(0)) null else Int.box(r.getInt(0)),
            r.getString(1))).toSeq
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        out.toDF("key", "value")
      },
      Some(Src1Cte + """
        SELECT TRY_CAST(u.key AS INT) AS key, u.value FROM (
          SELECT t1.key, p1.value FROM src1 t1 LEFT OUTER JOIN src p1 ON (t1.key = p1.key)
          UNION ALL
          SELECT t2.key, p2.value FROM src1 t2 LEFT OUTER JOIN src p2 ON (t2.key = p2.key)) u
        ORDER BY key ASC NULLS FIRST, value ASC NULLS FIRST""")),

    // ---- clientpositive/mapjoin_hook.q: the MapJoinCounterHook's four
    //      bodies — hinted mapjoin + group by, 3-way common join, filtered
    //      partition mapjoin, computed-key join — each overwriting dest1
    QueryDef(
      "q913_qf_mapjoin_hook",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"dest1_q913_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, "set hive.auto.convert.join = true")
        try {
          HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT /*+ MAPJOIN(x) */ " +
            "x.key, count(1) FROM src1 x JOIN src y ON (x.key = y.key) group by x.key")
          val f0 = facts(s, 0, Seq(
            "rows" -> cnt(s, s"select count(*) from $t").toString,
            "sum_value" -> HiveQl.sql(s,
              s"select sum(cast(value as int)) v from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"FROM src src1 JOIN src src2 ON (src1.key = src2.key) " +
            s"JOIN src src3 ON (src1.key = src3.key) " +
            s"INSERT OVERWRITE TABLE $t SELECT src1.key, src3.value")
          val f1 = facts(s, 1, Seq(
            "rows" -> cnt(s, s"select count(*) from $t").toString))
          HiveQl.sql(s, "set hive.mapjoin.localtask.max.memory.usage = 0.0001")
          HiveQl.sql(s, "set hive.mapjoin.check.memory.rows = 2")
          HiveQl.sql(s, s"FROM srcpart src1 JOIN src src2 ON (src1.key = src2.key) " +
            s"INSERT OVERWRITE TABLE $t SELECT src1.key, src2.value " +
            "where (src1.ds = '2008-04-08' or src1.ds = '2008-04-09' )" +
            "and (src1.hr = '12' or src1.hr = '11')")
          val f2 = facts(s, 2, Seq(
            "rows" -> cnt(s, s"select count(*) from $t").toString))
          HiveQl.sql(s, s"FROM src src1 JOIN src src2 ON (src1.key = src2.key) " +
            s"JOIN src src3 ON (src1.key + src2.key = src3.key) " +
            s"INSERT OVERWRITE TABLE $t SELECT src1.key, src3.value")
          val f3 = facts(s, 3, Seq(
            "rows" -> cnt(s, s"select count(*) from $t").toString))
          val out = ordered(Seq(f0, f1, f2, f3))
          out.collect()
          out
        } finally {
          HiveQl.sql(s, "set hive.mapjoin.localtask.max.memory.usage = 0.9")
          HiveQl.sql(s, "set hive.mapjoin.check.memory.rows = 100000")
          HiveQl.sql(s, s"drop table if exists $t")
        }
      },
      Some(SrcPartCte.stripSuffix(")") + """),
        src1 AS (
          SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                      ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS key,
                 CASE WHEN n_nationkey % 3 = 0 THEN ''
                      ELSE 'val_' || CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS value
          FROM nation)
        SELECT * FROM (
        SELECT 0 AS sec, 'rows|' || CAST((SELECT count(*) FROM (
          SELECT x.key FROM src1 x JOIN src y ON x.key = y.key GROUP BY x.key) g) AS VARCHAR) AS c1
        UNION ALL
        SELECT 0, 'sum_value|' || CAST((SELECT sum(c) FROM (
          SELECT count(1) AS c FROM src1 x JOIN src y ON x.key = y.key GROUP BY x.key) g) AS VARCHAR)
        UNION ALL
        SELECT 1, 'rows|' || CAST((SELECT count(*) FROM src s1
          JOIN src s2 ON s1.key = s2.key JOIN src s3 ON s1.key = s3.key) AS VARCHAR)
        UNION ALL
        SELECT 2, 'rows|' || CAST((SELECT count(*) FROM srcpart s1 JOIN src s2
          ON s1.key = s2.key
          WHERE (s1.ds = '2008-04-08' OR s1.ds = '2008-04-09')
            AND (s1.hr = '12' OR s1.hr = '11')) AS VARCHAR)
        UNION ALL
        SELECT 3, 'rows|' || CAST((SELECT count(*) FROM src s1
          JOIN src s2 ON s1.key = s2.key
          JOIN src s3 ON CAST(s1.key AS DOUBLE) + CAST(s2.key AS DOUBLE) = CAST(s3.key AS DOUBLE)) AS VARCHAR)
        ) u ORDER BY sec, c1""")),

    // ---- clientpositive/multi_sahooks.q: hive.semantic.analyzer.hook
    //      lists run in order on CREATE TABLE; each hook edits the new
    //      table's properties, last postAnalyze wins; Hook1 numbers its
    //      instances per statement (goldens: Hive rocks!! Count 0/1,
    //      Open Source rocks!!)
    QueryDef(
      "q914_qf_multi_sahooks",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tbl_sahooks_q914_$sfx"
        val hk = "org.apache.hadoop.hive.ql.metadata.DummySemanticAnalyzerHook"
        def msg(): String = {
          val props = s.sessionState.catalog
            .getTableMetadata(TableIdentifier(t)).properties
          Seq("createdBy", "Message").flatMap(props.get).mkString("~")
        }
        try {
          val legs = Seq(s"${hk}1", s"${hk}1,$hk", s"$hk,${hk}1", s"${hk}1,${hk}1")
            .zipWithIndex.map { case (hooks, i) =>
              fresh(s, t)
              HiveQl.sql(s, s"set hive.semantic.analyzer.hook=$hooks")
              HiveQl.sql(s, s"create table $t (c string)")
              val f = facts(s, i, Seq("props" -> msg(), "cols" -> descCols(s, t)))
              HiveQl.sql(s, s"set hive.semantic.analyzer.hook=")
              HiveQl.sql(s, s"drop table $t")
              f
            }
          ordered(legs)
        } finally HiveQl.sql(s, "set hive.semantic.analyzer.hook=")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'props|org.apache.hadoop.hive.ql.metadata.DummyCreateTableHook~Hive rocks!! Count: 0'),
        (0, 'cols|c:string'),
        (1, 'props|org.apache.hadoop.hive.ql.metadata.DummyCreateTableHook~Open Source rocks!!'),
        (1, 'cols|c:string'),
        (2, 'props|org.apache.hadoop.hive.ql.metadata.DummyCreateTableHook~Hive rocks!! Count: 0'),
        (2, 'cols|c:string'),
        (3, 'props|org.apache.hadoop.hive.ql.metadata.DummyCreateTableHook~Hive rocks!! Count: 1'),
        (3, 'cols|c:string')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/loadpart_err.q: a failing TRANSFORM script leaves
    //      the partition unregistered; a LOAD from a nonexistent path
    //      refuses with the reference's "no files matching" semantic
    QueryDef(
      "q915_qf_loadpart_err",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"loadpart1_q915_$sfx"
        fresh(s, t)
        HiveQl.sql(s,
          s"ADD FILE $RefScripts/error_script")
        HiveQl.sql(s, s"CREATE TABLE $t(a STRING, b STRING) PARTITIONED BY (ds STRING)")
        val insertFailed = try {
          HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds='2009-01-01') " +
            "SELECT TRANSFORM(src.key, src.value) USING 'error_script' AS (tkey, tvalue) " +
            "FROM src").collect()
          false
        } catch { case _: Exception => true }
        val shape = descCols(s, t)
        val parts0 = HiveQl.sql(s, s"SHOW PARTITIONS $t").count()
        val loadFailed = try {
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefRoot/data1/files/kv1.txt' " +
            s"INTO TABLE $t PARTITION(ds='2009-05-05')")
          false
        } catch { case e: Exception =>
          e.getMessage != null && (e.getMessage.contains("No files matching") ||
            e.getMessage.contains("does not exist")) }
        val parts1 = HiveQl.sql(s, s"SHOW PARTITIONS $t").count()
        val out = ordered(Seq(facts(s, 0, Seq(
          "insert_failed" -> insertFailed.toString,
          "shape" -> shape,
          "parts_before" -> parts0.toString,
          "load_failed" -> loadFailed.toString,
          "parts_after" -> parts1.toString))))
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'insert_failed|true'), (0, 'shape|a:string;b:string;ds:string'),
        (0, 'parts_before|0'), (0, 'load_failed|true'), (0, 'parts_after|0'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/set_processor_namespaces.q: system:/hiveconf:
    //      namespaces, ${..} substitution (incl. nested indirection), and
    //      hive.variable.substitute=false passing the raw text through
    QueryDef(
      "q916_qf_set_processor_namespaces",
      (s, dir) => {
        fixtures(s, dir)
        def confVal(k: String): String =
          try s.conf.get(k) catch { case _: Exception =>
            Option(System.getProperty(k.stripPrefix("system:"))).getOrElse("<unset>") }
        try {
          HiveQl.sql(s, "set zzz=5")
          HiveQl.sql(s, "set system:xxx=5")
          HiveQl.sql(s, "set system:yyy=${system:xxx}")
          HiveQl.sql(s, "set go=${hiveconf:zzz}")
          HiveQl.sql(s, "set hive.variable.substitute=false")
          HiveQl.sql(s, "set raw=${hiveconf:zzz}")
          HiveQl.sql(s, "set hive.variable.substitute=true")
          val rows = HiveQl.sql(s,
            "SELECT * FROM src where key=${hiveconf:zzz}").count()
          HiveQl.sql(s, "set a=1")
          HiveQl.sql(s, "set b=a")
          HiveQl.sql(s, "set c=${hiveconf:${hiveconf:b}}")
          ordered(Seq(facts(s, 0, Seq(
            "zzz" -> confVal("zzz"),
            "system_xxx" -> System.getProperty("xxx", "<unset>"),
            "system_yyy" -> System.getProperty("yyy", "<unset>"),
            "go" -> confVal("go"),
            "raw" -> confVal("raw"),
            "select_rows" -> rows.toString,
            "c" -> confVal("c")))))
        } finally HiveQl.sql(s, "set hive.variable.substitute=true")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'zzz|5'), (0, 'system_xxx|5'), (0, 'system_yyy|5'),
        (0, 'go|5'), (0, 'raw|${hiveconf:zzz}'), (0, 'select_rows|0'),
        (0, 'c|1')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/partition_vs_table_metadata.q: ADD COLUMNS after
    //      a partition exists — the old partition reads the new column as
    //      NULL, the new partition carries it
    QueryDef(
      "q917_qf_partition_vs_table_metadata",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"partition_vs_table_q917_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (ds string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds='100') " +
          "select key, value from src")
        HiveQl.sql(s, s"alter table $t add columns (newcol string)")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds='101') " +
          "select key, value, key from src")
        val df = HiveQl.sql(s, s"select key, value, newcol from $t " +
          "order by key, value, newcol")
          .orderBy(col("key"), col("value"), col("newcol").asc_nulls_first)
        val out = df.collect().map(r =>
          (r.getString(0), r.getString(1), r.getString(2))).toSeq
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        out.toDF("key", "value", "newcol")
      },
      Some(SrcCte + """
        SELECT key, value, newcol FROM (
          SELECT key, value, CAST(NULL AS VARCHAR) AS newcol FROM src
          UNION ALL
          SELECT key, value, key AS newcol FROM src) u
        ORDER BY key, value, newcol NULLS FIRST""")),

    // ---- clientpositive/updateAccessTime.q: UpdateInputAccessTimeHook in
    //      hive.exec.pre.hooks stamps each input table's lastAccessTime
    //      before the query runs
    QueryDef(
      "q918_qf_update_access_time",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tstsrc_q918_$sfx"
        fresh(s, t)
        def lat(): Long = s.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).lastAccessTime
        try {
          HiveQl.sql(s, s"create table $t as select * from src")
          val before = lat()
          HiveQl.sql(s, "set hive.exec.pre.hooks = " +
            "org.apache.hadoop.hive.ql.hooks.PreExecutePrinter," +
            "org.apache.hadoop.hive.ql.hooks.EnforceReadOnlyTables," +
            "org.apache.hadoop.hive.ql.hooks.UpdateInputAccessTimeHook$PreExec")
          val n = cnt(s, s"select count(1) from $t")
          val after = lat()
          ordered(Seq(facts(s, 0, Seq(
            "rows" -> n.toString,
            "access_time_unset_before" -> (before <= 0L).toString,
            "access_time_stamped_after" -> (after > 0L).toString))))
        } finally {
          HiveQl.sql(s, "set hive.exec.pre.hooks=")
          HiveQl.sql(s, s"drop table if exists $t")
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'rows|500'), (0, 'access_time_unset_before|true'),
        (0, 'access_time_stamped_after|true')) v(sec, c1) ORDER BY sec, c1"""))
  )
}
