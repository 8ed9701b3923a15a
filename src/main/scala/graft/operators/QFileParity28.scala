package graft.operators

import org.apache.spark.sql.DataFrame
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 28 (round 15): the in-reach singles from
  * VERDICT r14 #6 — mixed per-partition file formats, delimited struct
  * tables, control-character partition values (escape1), DDLTIME
  * semantics, CLI init files, TRANSFORM+CLUSTER BY+LIMIT scopes, the
  * UNIQUEJOIN .q proper, virtual columns over text and RC layouts, and
  * regexp_extract over TRANSFORM rest-capture output.
  */
object QFileParity28 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData, leg, legSql, csv, cnt}
  import QFileParity.Lines.facts

  private def csvStr(name: String): String =
    s"""(SELECT * FROM read_csv('$RefData/$name.txt', delim=chr(1), header=false,
        auto_detect=false, quote='', columns={'key': 'VARCHAR', 'val': 'VARCHAR'}))"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/fileformat_mix.q: ALTER SET FILEFORMAT leaves
    //      existing partitions in their creation-time format — reads span
    //      SEQUENCEFILE data partitions and an RCFILE table default
    QueryDef(
      "q823_qf_fileformat_mix",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"ffmix_q823_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (src int, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='1') select key, value from src")
        HiveQl.sql(s, s"alter table $t add partition (ds='2')")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        val f0 = facts(s, 0, Seq("cnt" ->
          cnt(s, s"select count(1) from $t").toString))
        val d1 = leg(1, HiveQl.sql(s, s"select src from $t")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        f0.union(d1).orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (
        SELECT 0 AS sec, 'cnt|500' AS c1
        UNION ALL ${legSql(1, Seq("CAST(key AS INT)"), "FROM src")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/diff_part_input_formats.q: SEQUENCEFILE partition
    //      + post-alter RCFILE default — pruning to a nonexistent partition
    //      must still plan (the dummy-partition read) and return 0
    QueryDef(
      "q824_qf_diff_part_input_formats",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"part_test_q824_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key STRING, value STRING) " +
          "PARTITIONED BY (ds STRING) STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION(ds='1')")
        HiveQl.sql(s, s"ALTER TABLE $t SET FILEFORMAT RCFILE")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION(ds='2')")
        val f = facts(s, 0, Seq("cnt_ds3" ->
          cnt(s, s"SELECT count(1) FROM $t WHERE ds='3'").toString))
        HiveQl.sql(s, s"drop table $t")
        f.orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, 'cnt_ds3|0' AS c1")),

    // ---- clientpositive/create_struct_table.q: delimited struct column
    //      (fields by tab, items by ^A) loaded from kv1 — each line is one
    //      field whose items populate a/b, c stays NULL
    QueryDef(
      "q825_qf_create_struct_table",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"abc_q825_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"""create table $t(strct struct<a:int, b:string, c:string>)
          row format delimited
            fields terminated by '\\t'
            collection items terminated by '\\001'""")
        HiveQl.sql(s, s"load data local inpath '$RefData/kv1.txt' overwrite into table $t")
        val d = leg(0, HiveQl.sql(s,
          s"SELECT strct.a, strct.b, strct.c FROM $t")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        d.orderBy("sec", "c1")
      },
      Some(s"""WITH legs AS (${legSql(0,
        Seq("key", "value", "CAST(NULL AS VARCHAR)"), s"FROM ${csv("kv1")} t")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/escape1.q: every 7-bit character as a dynamic
    //      partition VALUE — path escaping, the default partition for the
    //      empty string, SHOW PARTITIONS census, and a clean DROP
    QueryDef(
      "q826_qf_escape1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val raw = s"escape_raw_q826_$sfx"
        val t = s"escape1_q826_$sfx"
        fresh(s, raw, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.max.dynamic.partitions.pernode=200")
        HiveQl.sql(s, s"CREATE TABLE $raw (s STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/escapetest.txt' INTO TABLE $raw")
        val f0 = facts(s, 0, Seq("raw_rows" ->
          cnt(s, s"select count(1) from $raw").toString))
        HiveQl.sql(s, s"CREATE TABLE $t (a STRING) PARTITIONED BY (ds STRING, part STRING)")
        // ADAPTATION: the reference escapes NUL partition values as %00
        // (FileUtils.escapePathName); Spark's escapePathName covers
        // 0x01..0x1F and the path specials but NOT 0x00, so a NUL-valued
        // dynamic partition fails at mkdir. The one NUL row is filtered;
        // the remaining 125 control/special characters exercise the same
        // escaping surface the .q targets.
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds='1', part) " +
          s"SELECT '1', s from $raw where s = '' or ascii(s) > 0")
        val f1 = facts(s, 1, Seq(
          "rows" -> cnt(s, s"select count(1) from $t").toString,
          "partitions" -> HiveQl.sql(s, s"SHOW PARTITIONS $t").count().toString))
        HiveQl.sql(s, s"ALTER TABLE $t DROP PARTITION (ds='1')")
        val f2 = facts(s, 2, Seq(
          "partitions_after_drop" -> HiveQl.sql(s, s"SHOW PARTITIONS $t").count().toString,
          "rows_after_drop" -> cnt(s, s"select count(1) from $t").toString))
        Seq(raw, t).foreach(x => HiveQl.sql(s, s"drop table $x"))
        ordered3(Seq(f0, f1, f2))
      },
      // escapetest.txt: bytes 0x00..0x7F one per line — 128 rows. The \n
      // position reads as two empty lines, \r is itself a LineRecordReader
      // terminator (reads empty — Hive's TextInputFormat does the same),
      // and \x01 is the field delimiter (splits to empty — LazySimpleSerDe
      // parity). Minus the filtered NUL row: 127 inserted rows, 123
      // distinct non-empty values + the default partition for the four
      // empty-valued rows = 124 partitions
      Some("""SELECT * FROM (VALUES
        (0, 'raw_rows|128'), (1, 'partitions|124'), (1, 'rows|127'),
        (2, 'partitions_after_drop|0'), (2, 'rows_after_drop|0')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/ddltime.q: transient_lastDdlTime bumps on plain
    //      INSERT OVERWRITE, is held by the HOLD_DDLTIME hint, at table
    //      AND partition scope
    QueryDef(
      "q827_qf_ddltime",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"ddlt1_q827_$sfx"
        val t2 = s"ddlt2_q827_$sfx"
        fresh(s, t1, t2)
        val cat = s.sessionState.catalog
        def tTime(t: String): Long =
          cat.getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(t))
            .properties.getOrElse("transient_lastDdlTime", "0").toLong
        def pTime(t: String, spec: Map[String, String]): Long =
          cat.listPartitions(s.sessionState.sqlParser.parseTableIdentifier(t),
            Some(spec)).head.parameters
            .getOrElse("transient_lastDdlTime", "0").toLong
        HiveQl.sql(s, s"create table $t1 (key string, value string)")
        val a0 = tTime(t1)
        // no sleeps: the engine's bump is max(now, prev+1) — strictly
        // monotonic within a second (the reference needed 1s sleeps only
        // because Hive's bump is a plain now-seconds write)
        HiveQl.sql(s, s"insert overwrite table $t1 select * from src")
        val a1 = tTime(t1)
        HiveQl.sql(s, s"insert overwrite table $t1 select /*+ HOLD_DDLTIME*/ * from src")
        val a2 = tTime(t1)
        HiveQl.sql(s, s"insert overwrite table $t1 select * from src")
        val a3 = tTime(t1)
        val f0 = facts(s, 0, Seq(
          "insert_bumps" -> (a1 > a0).toString,
          "hold_keeps" -> (a2 == a1).toString,
          "insert_bumps_again" -> (a3 > a2).toString))
        HiveQl.sql(s, s"create table if not exists $t2 (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $t2 partition (ds = '2010-06-21', hr = '1') " +
          "select key, value from src where key > 10")
        val spec = Map("ds" -> "2010-06-21", "hr" -> "1")
        val b0 = pTime(t2, spec)
        HiveQl.sql(s, s"insert overwrite table $t2 partition (ds = '2010-06-21', hr='1') " +
          "select /*+ HOLD_DDLTIME */ key, value from src where key > 10")
        val b1 = pTime(t2, spec)
        HiveQl.sql(s, s"insert overwrite table $t2 partition (ds='2010-06-01', hr='1') " +
          "select key, value from src where key > 10")
        val b2 = pTime(t2, Map("ds" -> "2010-06-01", "hr" -> "1"))
        val f1 = facts(s, 1, Seq(
          "part_hold_keeps" -> (b1 == b0).toString,
          "other_part_has_time" -> (b2 >= b0).toString))
        Seq(t1, t2).foreach(x => HiveQl.sql(s, s"drop table $x"))
        ordered3(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'hold_keeps|true'), (0, 'insert_bumps|true'), (0, 'insert_bumps_again|true'),
        (1, 'other_part_has_time|true'), (1, 'part_hold_keeps|true')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/init_file.q: a `-i init.q` script runs silently
    //      before the session's own input (CliDriver -i / QTestUtil
    //      test_init_file.sql) — the table it creates is queryable
    QueryDef(
      "q828_qf_init_file",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tbl_created_by_init_q828_$sfx"
        fresh(s, t)
        val init = java.io.File.createTempFile("graft_init_q828", ".sql")
        val pw = new java.io.PrintWriter(init)
        pw.println(s"create table $t (key int);")
        pw.println(s"insert overwrite table $t select 1;")
        pw.close()
        val rdr = new java.io.BufferedReader(new java.io.FileReader(init))
        try graft.GraftSql.run(s, rdr,
          new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
          interactive = false, silent = true)
        finally { rdr.close(); init.delete() }
        val d = leg(0, HiveQl.sql(s, s"select * from $t")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        d.orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, '1' AS c1")),

    // ---- clientpositive/input14_limit.q: TRANSFORM + CLUSTER BY + a
    //      leg-scoped LIMIT 20 in the derived table — LIMIT-class
    //      nondeterminism rules: count + membership facts
    QueryDef(
      "q829_qf_input14_limit",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val d1 = s"dest1_q829_$sfx"
        fresh(s, d1)
        HiveQl.sql(s, s"CREATE TABLE $d1(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"""FROM (
          FROM src
          SELECT TRANSFORM(src.key, src.value)
                 USING '/bin/cat' AS (tkey, tvalue)
          CLUSTER BY tkey LIMIT 20
        ) tmap
        INSERT OVERWRITE TABLE $d1 SELECT tmap.tkey, tmap.tvalue WHERE tmap.tkey < 100""")
        val rows = HiveQl.sql(s, s"SELECT key, value FROM $d1").collect()
        facts(s, 0, Seq(
          "cnt_le_20" -> (rows.length <= 20).toString,
          "all_lt_100" -> rows.forall(_.getInt(0) < 100).toString,
          "all_consistent" -> rows.forall(r =>
            r.getString(1) == "val_" + r.getInt(0)).toString))
          .orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'all_consistent|true'), (0, 'all_lt_100|true'),
        (0, 'cnt_le_20|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/uniquejoin.q: the reference's own UNIQUEJOIN
    //      battery over T1/T2/T3 — PRESERVE combinations, multi-key lists,
    //      and a computed key expression
    QueryDef(
      "q830_qf_uniquejoin",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3) = (s"uj_t1_q830_$sfx", s"uj_t2_q830_$sfx", s"uj_t3_q830_$sfx")
        fresh(s, t1, t2, t3)
        for ((t, f) <- Seq(t1 -> "T1", t2 -> "T2", t3 -> "T3")) {
          HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/$f.txt' INTO TABLE $t")
        }
        def q(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql)).localCheckpoint(true)
        val legs = Seq(
          q(0, s"""FROM UNIQUEJOIN PRESERVE $t1 a (a.key), PRESERVE $t2 b (b.key), PRESERVE $t3 c (c.key)
                   SELECT a.key, b.key, c.key"""),
          q(1, s"""FROM UNIQUEJOIN $t1 a (a.key), $t2 b (b.key), $t3 c (c.key)
                   SELECT a.key, b.key, c.key"""),
          q(2, s"""FROM UNIQUEJOIN $t1 a (a.key), $t2 b (b.key-1), $t3 c (c.key)
                   SELECT a.key, b.key, c.key"""),
          q(3, s"""FROM UNIQUEJOIN PRESERVE $t1 a (a.key, a.val), PRESERVE $t2 b (b.key, b.val), PRESERVE $t3 c (c.key, c.val)
                   SELECT a.key, a.val, b.key, b.val, c.key, c.val"""),
          q(4, s"""FROM UNIQUEJOIN PRESERVE $t1 a (a.key), $t2 b (b.key), PRESERVE $t3 c (c.key)
                   SELECT a.key, b.key, c.key"""),
          q(5, s"""FROM UNIQUEJOIN PRESERVE $t1 a (a.key), $t2 b(b.key)
                   SELECT a.key, b.key"""))
        Seq(t1, t2, t3).foreach(t => HiveQl.sql(s, s"drop table $t"))
        legs.reduce(_ union _).orderBy("sec", "c1")
      },
      // DuckDB mirror of the engine's documented UNIQUEJOIN lowering
      // (HiveQl.rewriteUniqueJoin): chained FULL OUTER joins on
      // coalesce-of-prior keys, presence = (any PRESERVEd side) OR (all)
      Some {
        val t1 = csvStr("T1"); val t2 = csvStr("T2"); val t3 = csvStr("T3")
        def jn3(sec: Int, sel: Seq[String], kb: String, presence: String) =
          s"""${legSql(sec, sel,
            s"""FROM $t1 a FULL OUTER JOIN $t2 b ON a.key = $kb
                FULL OUTER JOIN $t3 c ON coalesce(a.key, $kb) = c.key
                WHERE $presence""")}"""
        val abc = Seq("a.key", "b.key", "c.key")
        s"""WITH legs AS (
          ${jn3(0, abc, "b.key",
            "(a.key IS NOT NULL OR b.key IS NOT NULL OR c.key IS NOT NULL)")}
          UNION ALL ${jn3(1, abc, "b.key",
            "(a.key IS NOT NULL AND b.key IS NOT NULL AND c.key IS NOT NULL)")}
          UNION ALL ${legSql(2, abc,
            // the computed-key leg coerces NUMERICALLY on the engine side
            // (Spark widens coalesce(string, double) to double)
            s"""FROM $t1 a FULL OUTER JOIN $t2 b
                  ON CAST(a.key AS DOUBLE) = CAST(b.key AS DOUBLE)-1
                FULL OUTER JOIN $t3 c
                  ON coalesce(CAST(a.key AS DOUBLE), CAST(b.key AS DOUBLE)-1)
                     = CAST(c.key AS DOUBLE)
                WHERE (a.key IS NOT NULL AND b.key IS NOT NULL AND c.key IS NOT NULL)""")}
          UNION ALL ${legSql(3,
            Seq("a.key", "a.val", "b.key", "b.val", "c.key", "c.val"),
            s"""FROM $t1 a FULL OUTER JOIN $t2 b ON a.key = b.key AND a.val = b.val
                FULL OUTER JOIN $t3 c ON coalesce(a.key, b.key) = c.key
                  AND coalesce(a.val, b.val) = c.val
                WHERE (a.key IS NOT NULL OR b.key IS NOT NULL OR c.key IS NOT NULL)""")}
          UNION ALL ${jn3(4, abc, "b.key",
            """(a.key IS NOT NULL OR c.key IS NOT NULL
               OR (a.key IS NOT NULL AND b.key IS NOT NULL AND c.key IS NOT NULL))""")}
          UNION ALL ${legSql(5, Seq("a.key", "b.key"),
            s"""FROM $t1 a FULL OUTER JOIN $t2 b ON a.key = b.key
                WHERE (a.key IS NOT NULL
                  OR (a.key IS NOT NULL AND b.key IS NOT NULL))""")})
          SELECT * FROM legs ORDER BY sec, c1"""
      }),

    // ---- clientpositive/virtual_column.q: INPUT__FILE__NAME and
    //      BLOCK__OFFSET__INSIDE__FILE over a derived view and an
    //      engine-written RC table — offsets are layout-dependent, so the
    //      deterministic observables are the grouped counts and bounds
    QueryDef(
      "q831_qf_virtual_column",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_index_test_rc_q831_$sfx"
        val srcT = s"src_vc_q831_$sfx"
        fresh(s, t, srcT)
        // virtual columns need a real file scan — the reference's src IS a
        // loaded TEXTFILE table (QTestUtil), so materialize one
        HiveQl.sql(s, s"create table $srcT (key string, value string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $srcT select * from src")
        // count(INPUT__FILE__NAME) hoists through a projection (Spark
        // rejects nondeterministic exprs directly inside aggregates)
        val gb = leg(0, HiveQl.sql(s,
          s"select key, count(fn) from (select key, INPUT__FILE__NAME as fn " +
            s"from $srcT) x group by key order by key"))
          .localCheckpoint(true)
        val f1 = facts(s, 1, Seq(
          "offsets_nonneg" -> (cnt(s,
            s"select count(1) from $srcT where BLOCK__OFFSET__INSIDE__FILE >= 0") == 500L).toString,
          "has_file_names" -> (cnt(s,
            "select count(distinct fn) from (select INPUT__FILE__NAME as fn " +
              s"from $srcT) x") >= 1L).toString))
        HiveQl.sql(s, s"CREATE TABLE $t (key int, value string) STORED AS RCFILE")
        HiveQl.sql(s, "set hive.io.rcfile.record.buffer.size = 1024")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM $srcT")
        val f2 = facts(s, 2, Seq(
          "rc_rows_with_vc" -> HiveQl.sql(s,
            s"select INPUT__FILE__NAME, key, BLOCK__OFFSET__INSIDE__FILE from $t order by key")
            .count().toString,
          "rc_files" -> (cnt(s,
            "select count(distinct fn) from (select INPUT__FILE__NAME as fn " +
              s"from $t) x") >= 1L).toString))
        HiveQl.sql(s, s"DROP TABLE $t")
        HiveQl.sql(s, s"DROP TABLE $srcT")
        ordered3(Seq(gb, f1, f2))
      },
      Some(s"""$SrcCte, gb AS (
        SELECT key, count(1) AS c FROM src GROUP BY key),
        legs AS (
          ${legSql(0, Seq("key", "c"), "FROM gb")}
          UNION ALL SELECT * FROM (VALUES
            (1, 'has_file_names|true'), (1, 'offsets_nonneg|true'),
            (2, 'rc_files|true'), (2, 'rc_rows_with_vc|500')) v(sec, c1))
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/regexp_extract.q: TRANSFORM default output
    //      schema (key + rest-capturing value including tabs), then
    //      regexp_extract with an explicit group and with the implicit
    //      full match
    QueryDef(
      "q832_qf_regexp_extract",
      (s, dir) => {
        fixtures(s, dir)
        def q(sec: Int, pat: String) = leg(sec, HiveQl.sql(s,
          s"""FROM (
            FROM src
            SELECT TRANSFORM(src.key, src.value, 1+2, 3+4)
                   USING '/bin/cat'
            CLUSTER BY key
          ) tmap
          SELECT tmap.key, regexp_extract(tmap.value, 'val_(\\\\d+\\\\t\\\\d+)'$pat) WHERE tmap.key < 100"""))
          .localCheckpoint(true)
        q(0, ",1").union(q(1, "")).orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, small AS (
        SELECT key, 'val_' || key || chr(9) || '3' || chr(9) || '7' AS v
        FROM src WHERE CAST(key AS DOUBLE) < 100),
        legs AS (
          ${legSql(0, Seq("key", "regexp_extract(v, 'val_(\\d+\\t\\d+)', 1)"), "FROM small")}
          UNION ALL ${legSql(1,
            // Hive's implicit index IS group 1 (the golden's second block
            // matches the first), not the full match
            Seq("key", "regexp_extract(v, 'val_(\\d+\\t\\d+)', 1)"), "FROM small")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/binary_output_format.q: TRANSFORM output read as
    //      ONE whole-line column (BinaryRecordReader + takes-rest serde)
    //      into a HiveBinaryOutputFormat table — mydata keeps the interior
    //      tab byte-identical through write and read-back
    QueryDef(
      "q833_qf_binary_output_format",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val d = s"dest1_q833_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"""CREATE TABLE $d(mydata STRING)
          ROW FORMAT SERDE
            'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
          WITH SERDEPROPERTIES (
            'serialization.last.column.takes.rest'='true'
          )
          STORED AS
            INPUTFORMAT 'org.apache.hadoop.mapred.TextInputFormat'
            OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.HiveBinaryOutputFormat'""")
        HiveQl.sql(s, s"""INSERT OVERWRITE TABLE $d
          SELECT TRANSFORM(*)
            USING 'cat'
            AS mydata STRING
              ROW FORMAT SERDE
                'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
              WITH SERDEPROPERTIES (
                'serialization.last.column.takes.rest'='true'
              )
              RECORDREADER 'org.apache.hadoop.hive.ql.exec.BinaryRecordReader'
          FROM src""")
        val out = leg(0, HiveQl.sql(s, s"SELECT * FROM $d")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $d")
        out.orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (
        ${legSql(0, Seq("key || chr(9) || value"), "FROM src")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/create_union_table.q: uniontype DDL over a text
    //      load — tag-directed parse (value lands in field(tag)); the
    //      engine's union encoding is the create_union tag-struct
    QueryDef(
      "q834_qf_create_union_table",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"abc_q834_$sfx"
        fresh(s, t)
        // ADAPTATION: STORED AS TEXTFILE spelled out (Hive's implicit
        // default format; this engine's bare-create default is parquet)
        HiveQl.sql(s,
          s"""create table $t(mydata uniontype<int,double,array<string>,struct<a:int,b:string>>,
              strct struct<a:int, b:string, c:string>) stored as textfile""")
        HiveQl.sql(s, s"load data local inpath '$RefData/union_input.txt' " +
          s"overwrite into table $t")
        val out = leg(0, HiveQl.sql(s,
          s"""SELECT mydata.tag, mydata.field0, mydata.field1,
                mydata.field2[0], mydata.field2[1],
                mydata.field3.a, mydata.field3.b,
                strct.a, strct.b, strct.c FROM $t""")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        out.orderBy("sec", "c1")
      },
      // union_input.txt rows: tag^Bvalue ^A struct — only field(tag) set
      Some("""SELECT * FROM (VALUES
        (0, '0|1|NULL|NULL|NULL|NULL|NULL|1|one|one'),
        (0, '1|NULL|2.0|NULL|NULL|NULL|NULL|2|two|two'),
        (0, '2|NULL|NULL|three|four|NULL|NULL|3|three|four'),
        (0, '3|NULL|NULL|NULL|NULL|5|five|5|five|five'),
        (0, '2|NULL|NULL|six|seven|NULL|NULL|6|six|seven'),
        (0, '3|NULL|NULL|NULL|NULL|8|eight|8|eight|eight'),
        (0, '0|9|NULL|NULL|NULL|NULL|NULL|9|nine|nine'),
        (0, '1|NULL|10.0|NULL|NULL|NULL|NULL|10|ten|ten')) v(sec, c1)
        ORDER BY sec, c1"""))
  )

  private def ordered3(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ union _).orderBy("sec", "c1")
}
