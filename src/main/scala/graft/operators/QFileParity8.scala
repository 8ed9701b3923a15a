package graft.operators

import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 8 (round 12): the inputddl family (DDL
  * echoes, UTF-8 charset literals, partition add/drop lifecycles, per-
  * format loads), join_reorder2/3 (STREAMTABLE hints over T1–T4.txt),
  * filter_join_breaktask 1/2 (ON-clause partition filters across
  * multi-way joins), the hive.test.mode trio input30–32 (dest-prefix
  * redirect + test-mode sampling — HiveQl.applyTestMode this round), and
  * the TestSerDe pair input16/input16_cc (the reference's test serde is a
  * LazySimpleSerDe whose default delimiter is Ctrl-B, overridable through
  * testserde.default.serialization.format).
  */
object QFileParity8 extends QueryModule {

  import QFileParity.{fixtures, fresh, RefData}
  import QFileParity6.describeRows

  private val Kv1Cte =
    s"""WITH kv1 AS (SELECT * FROM read_csv('$RefData/kv1.txt', delim=chr(1),
          header=false, auto_detect=false, quote='',
          columns={'key': 'VARCHAR', 'value': 'VARCHAR'}))"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/inputddl1.q: CREATE then scan the empty table
    QueryDef(
      "q560_qf_inputddl1",
      (s, dir) => {
        val t = s"inputddl1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"SELECT count(1) AS n FROM $t")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/inputddl2.q: two partition columns echo last
    QueryDef(
      "q561_qf_inputddl2",
      (s, dir) => {
        val t = s"inputddl2_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(key INT, value STRING)
              PARTITIONED BY(ds STRING, country STRING) STORED AS TEXTFILE""")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'key', 'int'), (0, 1, 'value', 'string'),
          (0, 2, 'ds', 'string'), (0, 3, 'country', 'string'))
          v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/inputddl3.q: tab-delimited CREATE echo
    QueryDef(
      "q562_qf_inputddl3",
      (s, dir) => {
        val t = s"inputddl3_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT, value STRING) ROW FORMAT " +
          s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS TEXTFILE")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES (0, 0, 'key', 'int'), (0, 1, 'value', 'string'))
              v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/inputddl4.q: column COMMENTs, table COMMENT, and
    //      CLUSTERED/SORTED INTO 32 BUCKETS — the bucket spec is pinned
    //      in-query from the catalog
    QueryDef(
      "q563_qf_inputddl4",
      (s, dir) => {
        val t = s"inputddl4_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(viewTime STRING, userid INT,
                page_url STRING, referrer_url STRING,
                friends ARRAY<BIGINT>, properties MAP<STRING, STRING>,
                ip STRING COMMENT 'IP Address of the User')
              COMMENT 'This is the page view table'
              PARTITIONED BY(ds STRING, country STRING)
              CLUSTERED BY(userid) SORTED BY(viewTime) INTO 32 BUCKETS""")
        val meta = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        val bs = meta.bucketSpec
        require(bs.exists(b => b.numBuckets == 32 &&
          b.bucketColumnNames.map(_.toLowerCase) == Seq("userid") &&
          b.sortColumnNames.map(_.toLowerCase) == Seq("viewtime")),
          s"inputddl4: bucket spec not honored: $bs")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'viewtime', 'string'), (0, 1, 'userid', 'int'),
          (0, 2, 'page_url', 'string'), (0, 3, 'referrer_url', 'string'),
          (0, 4, 'friends', 'array<bigint>'),
          (0, 5, 'properties', 'map<string,string>'), (0, 6, 'ip', 'string'),
          (0, 7, 'ds', 'string'), (0, 8, 'country', 'string'))
          v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/inputddl5.q: UTF-8 bytes through load, select and
    //      the `_UTF-8 0x...` charset literal (kv4.txt is one row of
    //      0xE982B5E993AE = 邵铮)
    QueryDef(
      "q564_qf_inputddl5",
      (s, dir) => {
        val t = s"inputddl5_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(name STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv4.txt' INTO TABLE $t")
        HiveQl.sql(s,
          s"""SELECT (SELECT name FROM $t LIMIT 1) AS name,
                (SELECT count(1) FROM $t WHERE name = _UTF-8 0xE982B5E993AE) AS n""")
      },
      Some("""SELECT '邵铮' AS name, CAST(1 AS BIGINT) AS n""")),

    // ---- clientpositive/inputddl6.q: per-partition loads, SHOW PARTITIONS
    //      across ALTER TABLE DROP PARTITION
    QueryDef(
      "q565_qf_inputddl6",
      (s, dir) => {
        val t = s"inputddl6_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(KEY STRING, VALUE STRING)
              PARTITIONED BY(ds STRING) STORED AS TEXTFILE""")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t PARTITION (ds='2008-04-09')")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t PARTITION (ds='2008-04-08')")
        val p1 = HiveQl.sql(s, s"SHOW PARTITIONS $t")
          .selectExpr("0 AS stage", "partition AS v").localCheckpoint(true)
        HiveQl.sql(s, s"ALTER TABLE $t DROP PARTITION (ds='2008-04-08')")
        val p2 = HiveQl.sql(s, s"SHOW PARTITIONS $t")
          .selectExpr("1 AS stage", "partition AS v").localCheckpoint(true)
        val c = HiveQl.sql(s,
          s"SELECT 2 AS stage, CAST(count(1) AS STRING) AS v FROM $t")
        p1.union(p2).union(c).orderBy("stage", "v")
      },
      Some("""SELECT * FROM (VALUES
          (0, 'ds=2008-04-08'), (0, 'ds=2008-04-09'),
          (1, 'ds=2008-04-09'), (2, '500'))
          v(stage, v) ORDER BY stage, v""")),

    // ---- clientpositive/inputddl7.q: the same rows through TEXTFILE and
    //      SEQUENCEFILE loads, plain and partitioned (kv1.seq is the
    //      reference's sequencefile build of kv1.txt)
    QueryDef(
      "q566_qf_inputddl7",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3, t4) = (s"ddl7t1_$sfx", s"ddl7t2_$sfx", s"ddl7t3_$sfx", s"ddl7t4_$sfx")
        fresh(s, t1, t2, t3, t4)
        HiveQl.sql(s, s"CREATE TABLE $t1(name STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"CREATE TABLE $t2(name STRING) STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.seq' INTO TABLE $t2")
        HiveQl.sql(s, s"CREATE TABLE $t3(name STRING) PARTITIONED BY(ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t3 PARTITION (ds='2008-04-09')")
        HiveQl.sql(s, s"CREATE TABLE $t4(name STRING) PARTITIONED BY(ds STRING) STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.seq' INTO TABLE $t4 PARTITION (ds='2008-04-09')")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $t1) AS n1,
                     (SELECT count(1) FROM $t2) AS n2,
                     (SELECT count(1) FROM $t3 WHERE ds='2008-04-09') AS n3,
                     (SELECT count(1) FROM $t4 WHERE ds='2008-04-09') AS n4""")
      },
      Some("""SELECT CAST(500 AS BIGINT) AS n1, CAST(500 AS BIGINT) AS n2,
                     CAST(500 AS BIGINT) AS n3, CAST(500 AS BIGINT) AS n4""")),

    // ---- clientpositive/join_reorder2.q: STREAMTABLE-hinted 4-way chain
    //      join and the arithmetic-key variant
    QueryDef(
      "q567_qf_join_reorder2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val ts = Seq("t1", "t2", "t3", "t4").map(n => s"jr2_${n}_$sfx")
        fresh(s, ts: _*)
        ts.zip(Seq("T1", "T2", "T3", "T1")).foreach { case (t, f) =>
          HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/$f.txt' INTO TABLE $t")
        }
        val l1 = HiveQl.sql(s,
          s"""SELECT /*+ STREAMTABLE(a) */ *
              FROM ${ts(0)} a JOIN ${ts(1)} b ON a.key = b.key
                   JOIN ${ts(2)} c ON b.key = c.key
                   JOIN ${ts(3)} d ON c.key = d.key""")
          .toDF("k1", "v1", "k2", "v2", "k3", "v3", "k4", "v4")
          .withColumn("leg", lit(0))
        val l2 = HiveQl.sql(s,
          s"""SELECT /*+ STREAMTABLE(a) */ *
              FROM ${ts(0)} a JOIN ${ts(1)} b ON a.key = b.key
                   JOIN ${ts(2)} c ON a.val = c.val
                   JOIN ${ts(3)} d ON a.key + 1 = d.key + 1""")
          .toDF("k1", "v1", "k2", "v2", "k3", "v3", "k4", "v4")
          .withColumn("leg", lit(1))
        l1.union(l2).orderBy("leg", "k1", "k2", "k3", "k4", "v1", "v2", "v3", "v4")
      },
      Some(s"""WITH t1 AS (SELECT * FROM read_csv('$RefData/T1.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'})),
          t2 AS (SELECT * FROM read_csv('$RefData/T2.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'})),
          t3 AS (SELECT * FROM read_csv('$RefData/T3.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'}))
          SELECT * FROM (
            SELECT a.key AS k1, a.val AS v1, b.key AS k2, b.val AS v2,
                   c.key AS k3, c.val AS v3, d.key AS k4, d.val AS v4, 0 AS leg
            FROM t1 a JOIN t2 b ON a.key = b.key
                 JOIN t3 c ON b.key = c.key
                 JOIN t1 d ON c.key = d.key
            UNION ALL
            SELECT a.key, a.val, b.key, b.val, c.key, c.val, d.key, d.val, 1
            FROM t1 a JOIN t2 b ON a.key = b.key
                 JOIN t3 c ON a.val = c.val
                 JOIN t1 d ON TRY_CAST(a.key AS DOUBLE) + 1 = TRY_CAST(d.key AS DOUBLE) + 1
          ) z ORDER BY leg, k1, k2, k3, k4, v1, v2, v3, v4""")),

    // ---- clientpositive/join_reorder3.q: STREAMTABLE(a,c) over the same
    //      chain (the multi-alias hint form)
    QueryDef(
      "q568_qf_join_reorder3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val ts = Seq("t1", "t2", "t3", "t4").map(n => s"jr3_${n}_$sfx")
        fresh(s, ts: _*)
        ts.zip(Seq("T1", "T2", "T3", "T1")).foreach { case (t, f) =>
          HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/$f.txt' INTO TABLE $t")
        }
        HiveQl.sql(s,
          s"""SELECT /*+ STREAMTABLE(a,c) */ *
              FROM ${ts(0)} a JOIN ${ts(1)} b ON a.key = b.key
                   JOIN ${ts(2)} c ON b.key = c.key
                   JOIN ${ts(3)} d ON c.key = d.key""")
          .toDF("k1", "v1", "k2", "v2", "k3", "v3", "k4", "v4")
          .orderBy("k1", "k2", "k3", "k4", "v1", "v2", "v3", "v4")
      },
      Some(s"""WITH t1 AS (SELECT * FROM read_csv('$RefData/T1.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'})),
          t2 AS (SELECT * FROM read_csv('$RefData/T2.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'})),
          t3 AS (SELECT * FROM read_csv('$RefData/T3.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'val': 'VARCHAR'}))
          SELECT a.key AS k1, a.val AS v1, b.key AS k2, b.val AS v2,
                 c.key AS k3, c.val AS v3, d.key AS k4, d.val AS v4
          FROM t1 a JOIN t2 b ON a.key = b.key
               JOIN t3 c ON b.key = c.key
               JOIN t1 d ON c.key = d.key
          ORDER BY k1, k2, k3, k4, v1, v2, v3, v4""")),

    // ---- clientpositive/filter_join_breaktask.q: ON-clause partition
    //      filters + IS NOT NULL + != '' residuals across a 3-way self-join
    QueryDef(
      "q569_qf_filter_join_breaktask",
      (s, dir) => {
        val t = s"fjb_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE $t(key int, value string) PARTITIONED BY (ds string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION(ds='2008-04-08')
              SELECT key, value FROM src1""")
        HiveQl.sql(s,
          s"""SELECT f.key, g.value
              FROM $t f JOIN $t m ON (f.key = m.key AND f.ds='2008-04-08'
                AND m.ds='2008-04-08' AND f.key IS NOT NULL)
              JOIN $t g ON (g.value = m.value AND g.ds='2008-04-08'
                AND m.ds='2008-04-08' AND m.value IS NOT NULL AND m.value != '')""")
          .orderBy("key", "value")
      },
      Some(QFileParity.Src1Cte + """
        , fjb AS (SELECT TRY_CAST(key AS INT) AS key, value FROM src1)
        SELECT f.key, g.value
        FROM fjb f JOIN fjb m ON f.key = m.key AND f.key IS NOT NULL
        JOIN fjb g ON g.value = m.value AND m.value IS NOT NULL AND m.value != ''
        ORDER BY 1, 2""")),

    // ---- clientpositive/filter_join_breaktask2.q: 1-row wide-table 4-way
    //      join with string↔bigint key coercion in the middle hop
    QueryDef(
      "q570_qf_filter_join_breaktask2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3, t4) = (s"fjb2_t1_$sfx", s"fjb2_t2_$sfx", s"fjb2_t3_$sfx", s"fjb2_t4_$sfx")
        fresh(s, t1, t2, t3, t4)
        HiveQl.sql(s,
          s"""CREATE TABLE $t1(c1 string, c2 string, c3 string, c4 string,
                c5 string, c6 string, c7 string) PARTITIONED BY (ds string)""")
        HiveQl.sql(s,
          s"""CREATE TABLE $t2(c1 string, c2 string, c3 string, c0 string,
                c4 string, c5 string, c6 string, c7 string) PARTITIONED BY (ds string)""")
        HiveQl.sql(s,
          s"CREATE TABLE $t3(c0 bigint, c1 bigint, c2 int) PARTITIONED BY (ds string)")
        HiveQl.sql(s,
          s"CREATE TABLE $t4(c0 bigint, c1 string, c2 string) PARTITIONED BY (ds string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t1 PARTITION (ds='2010-04-17')
              SELECT '5', '1', '1', '1', 0, 0, 4 FROM src LIMIT 1""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t2 PARTITION(ds='2010-04-17')
              SELECT '5', 'name', NULL, '2', 'kavin', NULL, '9', 'c' FROM src LIMIT 1""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t3 PARTITION (ds='2010-04-17')
              SELECT 4, 5, 0 FROM src LIMIT 1""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t4 PARTITION(ds='2010-04-17')
              SELECT 4, '1', '1' FROM src LIMIT 1""")
        HiveQl.sql(s,
          s"""SELECT a.c1 AS a_c1, b.c1 AS b_c1, d.c0 AS d_c0
              FROM $t1 a JOIN $t2 b
                ON (a.c1 = b.c1 AND a.ds='2010-04-17' AND b.ds='2010-04-17')
              JOIN $t3 c
                ON (a.c1 = c.c1 AND a.ds='2010-04-17' AND c.ds='2010-04-17')
              JOIN $t4 d
                ON (c.c0 = d.c0 AND c.ds='2010-04-17' AND d.ds='2010-04-17')""")
      },
      Some("""SELECT '5' AS a_c1, '5' AS b_c1, CAST(4 AS BIGINT) AS d_c0""")),

    // ---- clientpositive/input30.q: hive.test.mode redirects the INSERT
    //      into tst_dest30 and samples the unbucketed source on
    //      rand(460476415) — the sampled count is bounded, not exact
    QueryDef(
      "q571_qf_input30",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d, td) = (s"dest30_$sfx", s"tst_dest30_$sfx")
        fresh(s, d, td)
        HiveQl.sql(s, s"CREATE TABLE $d(a int)")
        HiveQl.sql(s, s"CREATE TABLE $td(a int)")
        HiveQl.sql(s, "SET hive.test.mode=true")
        HiveQl.sql(s, s"SET hive.test.mode.prefix=tst_")
        HiveQl.sql(s,
          s"INSERT OVERWRITE TABLE ${d.stripPrefix("tst_")} SELECT count(1) FROM src")
        HiveQl.sql(s, "SET hive.test.mode=false")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $d) AS n_orig,
                     (SELECT count(1) FROM $td) AS n_tst,
                     (SELECT max(a) BETWEEN 1 AND 60 FROM $td) AS sampled_ok""")
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_orig, CAST(1 AS BIGINT) AS n_tst,
                     true AS sampled_ok""")),

    // ---- clientpositive/input31.q: a BUCKETED source under test mode is
    //      sampled by bucket pruning (BUCKET 1 OUT OF numBuckets)
    QueryDef(
      "q572_qf_input31",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (sb, d, td) = (s"srcbucket31_$sfx", s"dest31_$sfx", s"tst_dest31_$sfx")
        fresh(s, sb, d, td)
        HiveQl.sql(s,
          s"""CREATE TABLE $sb(key INT, value STRING)
              CLUSTERED BY (key) INTO 2 BUCKETS""")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $sb SELECT CAST(key AS INT), value FROM src")
        HiveQl.sql(s, s"CREATE TABLE $d(a int)")
        HiveQl.sql(s, s"CREATE TABLE $td(a int)")
        HiveQl.sql(s, "SET hive.test.mode=true")
        HiveQl.sql(s, s"SET hive.test.mode.prefix=tst_")
        HiveQl.sql(s,
          s"INSERT OVERWRITE TABLE ${d.stripPrefix("tst_")} SELECT count(1) FROM $sb")
        HiveQl.sql(s, "SET hive.test.mode=false")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $d) AS n_orig,
                     (SELECT count(1) FROM $td) AS n_tst,
                     (SELECT max(a) > 0 AND max(a) < 500 FROM $td) AS bucket_pruned""")
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_orig, CAST(1 AS BIGINT) AS n_tst,
                     true AS bucket_pruned""")),

    // ---- clientpositive/input32.q: nosamplelist suppresses the sampling —
    //      the redirected count is EXACT
    QueryDef(
      "q573_qf_input32",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (sb, d, td) = (s"srcbucket32_$sfx", s"dest32_$sfx", s"tst_dest32_$sfx")
        fresh(s, sb, d, td)
        HiveQl.sql(s,
          s"""CREATE TABLE $sb(key INT, value STRING)
              CLUSTERED BY (key) INTO 2 BUCKETS""")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $sb SELECT CAST(key AS INT), value FROM src")
        HiveQl.sql(s, s"CREATE TABLE $d(a int)")
        HiveQl.sql(s, s"CREATE TABLE $td(a int)")
        HiveQl.sql(s, "SET hive.test.mode=true")
        HiveQl.sql(s, s"SET hive.test.mode.prefix=tst_")
        HiveQl.sql(s, s"SET hive.test.mode.nosamplelist=src,$sb")
        HiveQl.sql(s,
          s"INSERT OVERWRITE TABLE ${d.stripPrefix("tst_")} SELECT count(1) FROM $sb")
        HiveQl.sql(s, "SET hive.test.mode=false")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $d) AS n_orig,
                     (SELECT max(a) FROM $td) AS n_full""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n_orig, 500 AS n_full")),

    // ---- clientpositive/input16.q: the reference's TestSerDe — a
    //      LazySimpleSerDe clone whose DEFAULT delimiter is Ctrl-B
    //      (TestSerDe.java; the .q ADD JARs it, the engine maps the class
    //      to hivetext with sep \002)
    QueryDef(
      "q574_qf_input16",
      (s, dir) => {
        val t = s"input16_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(KEY STRING, VALUE STRING) ROW FORMAT SERDE
              'org.apache.hadoop.hive.serde2.TestSerDe' STORED AS TEXTFILE""")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1_cb.txt' INTO TABLE $t")
        HiveQl.sql(s, s"SELECT $t.VALUE, $t.KEY FROM $t").orderBy("VALUE", "KEY")
      },
      Some(s"$Kv1Cte SELECT value AS VALUE, key AS KEY FROM kv1 ORDER BY VALUE, KEY")),

    // ---- clientpositive/input16_cc.q: TestSerDe's delimiter overridden to
    //      Ctrl-C through testserde.default.serialization.format
    QueryDef(
      "q575_qf_input16_cc",
      (s, dir) => {
        val t = s"input16_cc_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(KEY STRING, VALUE STRING) ROW FORMAT SERDE
              'org.apache.hadoop.hive.serde2.TestSerDe' WITH SERDEPROPERTIES
              ('testserde.default.serialization.format'='\\003',
               'dummy.prop.not.used'='dummyy.val') STORED AS TEXTFILE""")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1_cc.txt' INTO TABLE $t")
        HiveQl.sql(s, s"SELECT $t.VALUE, $t.KEY FROM $t").orderBy("VALUE", "KEY")
      },
      Some(s"$Kv1Cte SELECT value AS VALUE, key AS KEY FROM kv1 ORDER BY VALUE, KEY"))
  )
}
