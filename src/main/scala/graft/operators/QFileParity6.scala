package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 6 (round 12): the `input*` family remainder
  * of clientpositive — star expansion, DESCRIBE/DDL snapshots, LIMIT
  * semantics, partition-pruning selects, positional-insert column swaps,
  * explicit TRANSFORM row formats, the MAP/REDUCE `input20_script`
  * pipeline (a direct beneficiary of this round's TAB-default fix), and
  * kv1.txt-backed loads (oracled through DuckDB's read_csv over the same
  * reference file).
  */
object QFileParity6 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, RefData, RefScripts}

  private val Kv1Cte =
    s"""WITH kv1 AS (SELECT * FROM read_csv('$RefData/kv1.txt', delim=chr(1),
          header=false, auto_detect=false, quote='', columns={'key': 'VARCHAR', 'value': 'VARCHAR'}))"""

  /** DESCRIBE snapshot: (col_name, data_type) in declaration order, Spark's
    * `# Partition Information` section rows dropped and the partition
    * columns deduped (Hive 0.8 lists every column exactly once).
    */
  private[operators] def describeRows(s: SparkSession, table: String, stage: Int): DataFrame = {
    // Hive 0.8 lower-cases identifiers in DESCRIBE output (the goldens
    // show `a int` for `CREATE TABLE t(A INT)`); Spark echoes as-declared
    val rows = HiveQl.sql(s, s"DESCRIBE $table").collect()
      .map(r => (r.getString(0).toLowerCase, r.getString(1)))
      .filter { case (n, _) => n.nonEmpty && !n.startsWith("#") }
      .distinct
    import s.implicits._
    rows.zipWithIndex.map { case ((n, t), i) => (stage, i, n, t) }
      .toSeq.toDF("stage", "idx", "col_name", "data_type")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/input.q: star expansion through a table alias
    QueryDef(
      "q511_qf_input",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT x.* FROM src x").orderBy("key", "value")
      },
      Some(s"$SrcCte SELECT * FROM src ORDER BY key, value")),

    // ---- clientpositive/input1.q: CREATE + DESCRIBE (types echo back)
    QueryDef(
      "q512_qf_input1",
      (s, dir) => {
        val t = s"test1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(A INT, B DOUBLE) STORED AS TEXTFILE")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES (0, 0, 'a', 'int'), (0, 1, 'b', 'double'))
              v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/input2.q: DESCRIBE of complex types + SHOW TABLES
    //      membership across the drops
    QueryDef(
      "q513_qf_input2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (ta, tb) = (s"test2a_$sfx", s"test2b_$sfx")
        fresh(s, ta, tb)
        HiveQl.sql(s, s"CREATE TABLE $ta(A INT, B DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"CREATE TABLE $tb(A ARRAY<INT>, B DOUBLE, C MAP<DOUBLE, INT>) STORED AS TEXTFILE")
        def shows(stage: Int) = {
          val names = s.sql("SHOW TABLES").collect().map(_.getString(1))
            .filter(n => n == ta || n == tb).sorted
          import s.implicits._
          names.zipWithIndex.map { case (n, i) =>
            (stage, i, n.stripSuffix(s"_$sfx"), "table") }
            .toSeq.toDF("stage", "idx", "col_name", "data_type")
        }
        val d1 = describeRows(s, ta, 0)
        val d2 = describeRows(s, tb, 1)
        val s1 = shows(2)
        HiveQl.sql(s, s"DROP TABLE $ta")
        val s2 = shows(3)
        HiveQl.sql(s, s"DROP TABLE $tb")
        val s3 = shows(4)
        d1.union(d2).union(s1).union(s2).union(s3).orderBy("stage", "idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'a', 'int'), (0, 1, 'b', 'double'),
          (1, 0, 'a', 'array<int>'), (1, 1, 'b', 'double'),
          (1, 2, 'c', 'map<double,int>'),
          (2, 0, 'test2a', 'table'), (2, 1, 'test2b', 'table'),
          (3, 0, 'test2b', 'table'))
          v(stage, idx, col_name, data_type) ORDER BY stage, idx""")),

    // ---- clientpositive/input3.q: ADD COLUMNS → RENAME TO → REPLACE
    //      COLUMNS with a DESCRIBE snapshot after each step
    QueryDef(
      "q514_qf_input3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (tb, tc) = (s"test3b_$sfx", s"test3c_$sfx")
        fresh(s, tb, tc)
        HiveQl.sql(s,
          s"CREATE TABLE $tb(A ARRAY<INT>, B DOUBLE, C MAP<DOUBLE, INT>) STORED AS TEXTFILE")
        val d0 = describeRows(s, tb, 0)
        HiveQl.sql(s, s"ALTER TABLE $tb ADD COLUMNS (X DOUBLE)")
        val d1 = describeRows(s, tb, 1)
        HiveQl.sql(s, s"ALTER TABLE $tb RENAME TO $tc")
        val d2 = describeRows(s, tc, 2)
        HiveQl.sql(s, s"ALTER TABLE $tc REPLACE COLUMNS (R1 INT, R2 DOUBLE)")
        val d3 = describeRows(s, tc, 3)
        d0.union(d1).union(d2).union(d3).orderBy("stage", "idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'a', 'array<int>'), (0, 1, 'b', 'double'), (0, 2, 'c', 'map<double,int>'),
          (1, 0, 'a', 'array<int>'), (1, 1, 'b', 'double'), (1, 2, 'c', 'map<double,int>'),
          (1, 3, 'x', 'double'),
          (2, 0, 'a', 'array<int>'), (2, 1, 'b', 'double'), (2, 2, 'c', 'map<double,int>'),
          (2, 3, 'x', 'double'),
          (3, 0, 'r1', 'int'), (3, 1, 'r2', 'double'))
          v(stage, idx, col_name, data_type) ORDER BY stage, idx""")),

    // ---- clientpositive/input10.q: DESCRIBE of a partitioned table lists
    //      data columns then partition columns, each once
    QueryDef(
      "q515_qf_input10",
      (s, dir) => {
        val t = s"test10_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(key INT, value STRING)
              PARTITIONED BY(ds STRING, hr STRING) STORED AS TEXTFILE""")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'key', 'int'), (0, 1, 'value', 'string'),
          (0, 2, 'ds', 'string'), (0, 3, 'hr', 'string'))
          v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/input11_limit.q: INSERT … WHERE key < 100 LIMIT
    //      10 — which 10 is reducer-order-dependent, so the oracle is the
    //      count + membership facts (the established LIMIT-no-ORDER shape)
    QueryDef(
      "q516_qf_input11_limit",
      (s, dir) => {
        val d = s"dest1_il_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src INSERT OVERWRITE TABLE $d
              SELECT src.key, src.value WHERE src.key < 100 LIMIT 10""")
        HiveQl.sql(s,
          s"""SELECT count(1) AS n,
                sum(CASE WHEN key < 100 THEN 1 ELSE 0 END) AS n_lt,
                sum(CASE WHEN value = concat('val_', CAST(key AS STRING))
                    THEN 1 ELSE 0 END) AS n_pair
              FROM $d""")
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n, CAST(10 AS BIGINT) AS n_lt,
                     CAST(10 AS BIGINT) AS n_pair""")),

    // ---- clientpositive/input15.q: delimited CREATE echoes through DESCRIBE
    QueryDef(
      "q517_qf_input15",
      (s, dir) => {
        val t = s"test15_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT, value STRING) ROW FORMAT " +
          s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS TEXTFILE")
        describeRows(s, t, 0).orderBy("idx")
      },
      Some("""SELECT * FROM (VALUES (0, 0, 'key', 'int'), (0, 1, 'value', 'string'))
              v(stage, idx, col_name, data_type) ORDER BY idx""")),

    // ---- clientpositive/input21.q: null.txt (^A-delimited, \N nulls)
    //      through DISTRIBUTE BY c SORT BY d — wrapped in a total order for
    //      the oracle; the null column rides along
    QueryDef(
      "q518_qf_input21",
      (s, dir) => {
        val t = s"src_null_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE $t(a STRING, b STRING, c STRING, d STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/null.txt' INTO TABLE $t")
        HiveQl.sql(s, s"SELECT * FROM $t DISTRIBUTE BY c SORT BY d")
          .orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first,
            col("c").asc_nulls_first, col("d").asc_nulls_first)
      },
      Some(s"""SELECT * FROM read_csv('$RefData/null.txt', delim=chr(1),
            header=false, nullstr='\\N',
            columns={'a': 'VARCHAR', 'b': 'VARCHAR', 'c': 'VARCHAR', 'd': 'VARCHAR'})
          ORDER BY a NULLS FIRST, b NULLS FIRST, c NULLS FIRST, d NULLS FIRST""")),

    // ---- clientpositive/input22.q: star expansion PLUS a duplicate
    //      aliased column inside a subquery
    QueryDef(
      "q519_qf_input22",
      (s, dir) => {
        val t = s"input4_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(KEY STRING, VALUE STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        HiveQl.sql(s,
          s"""SELECT a.KEY2 FROM (SELECT $t.*, $t.KEY as KEY2 FROM $t) a
              ORDER BY KEY2 LIMIT 10""")
      },
      Some(s"$Kv1Cte SELECT key AS KEY2 FROM kv1 ORDER BY KEY2 LIMIT 10")),

    // ---- clientpositive/input23.q: join against an EMPTY partition
    //      (hr='14' does not exist) — zero rows, not an error
    QueryDef(
      "q520_qf_input23",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(1) AS n FROM srcpart a JOIN srcpart b
             WHERE a.ds = '2008-04-08' AND a.hr = '11'
               AND b.ds = '2008-04-08' AND b.hr = '14'""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/input25.q: union of selects over freshly-added
    //      EMPTY partitions (with limits) — zero rows
    QueryDef(
      "q521_qf_input25",
      (s, dir) => {
        val t = s"tst25_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(a INT, b INT) PARTITIONED BY (d STRING)")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (d='2009-01-01')")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (d='2009-02-02')")
        HiveQl.sql(s,
          s"""SELECT count(1) AS n FROM (
                SELECT * FROM (SELECT * FROM $t x WHERE x.d='2009-01-01' LIMIT 10) u1
                UNION ALL
                SELECT * FROM (SELECT * FROM $t x WHERE x.d='2009-02-02' LIMIT 10) u2
              ) subq""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/input28.q: INSERT from a join whose left side is
    //      an empty partition, then read back — still empty
    QueryDef(
      "q522_qf_input28",
      (s, dir) => {
        val t = s"tst28_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(a STRING, b STRING) PARTITIONED BY (d STRING)")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (d='2009-01-01')")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION(d='2009-01-01')
              SELECT $t.a, src.value FROM $t JOIN src ON ($t.a = src.key)""")
        HiveQl.sql(s, s"SELECT count(1) AS n FROM $t WHERE $t.d='2009-01-01'")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/input35.q: explicit \002 row format on BOTH
    //      transform sides (the default-TAB pass must leave it alone)
    QueryDef(
      "q523_qf_input35",
      (s, dir) => {
        val d = s"dest1_i35_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
                FROM src
                SELECT TRANSFORM(src.key, src.value) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\002'
                USING '/bin/cat'
                AS (tkey, tvalue) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\002'
              ) tmap
              INSERT OVERWRITE TABLE $d SELECT tkey, tvalue""")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value FROM src
               ORDER BY key, value""")),

    // ---- clientpositive/input36.q: MISMATCHED transform delimiters (\002
    //      in, \003 out): cat echoes \002-joined fields, the \003 output
    //      parse finds no delimiter — tkey gets the whole line, tvalue NULL
    QueryDef(
      "q524_qf_input36",
      (s, dir) => {
        val d = s"dest1_i36_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
                FROM src
                SELECT TRANSFORM(src.key, src.value) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\002'
                USING '/bin/cat'
                AS (tkey, tvalue) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\003'
              ) tmap
              INSERT OVERWRITE TABLE $d SELECT tkey, tvalue""")
        HiveQl.sql(s,
          s"""SELECT count(1) AS n, count(key) AS n_key, count(value) AS n_val
              FROM $d""")
      },
      Some("""SELECT CAST(500 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_key,
                     CAST(0 AS BIGINT) AS n_val""")),

    // ---- clientpositive/input38.q: TRANSFORM with NO AS clause — default
    //      (key, value) output where value keeps the remainder (tabs and
    //      all) under the remainder-absorb rewrite
    QueryDef(
      "q525_qf_input38",
      (s, dir) => {
        val d = s"dest1_i38_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET graft.transform.absorbRemainder=true")
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM (
                FROM src
                SELECT TRANSFORM(src.key, src.value, 1+2, 3+4)
                       USING '/bin/cat'
              ) tmap
              INSERT OVERWRITE TABLE $d SELECT tmap.key, tmap.value""")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte
        SELECT key, value || chr(9) || '3' || chr(9) || '7' AS value
        FROM src ORDER BY key, value""")),

    // ---- clientpositive/input39.q: join under test-mode SETs (strict
    //      mode, fake jobtracker, auto local mode) — the SETs must not
    //      change the result
    QueryDef(
      "q526_qf_input39",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"t1_i39_$sfx", s"t2_i39_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key STRING, value STRING) PARTITIONED BY (ds STRING)")
        HiveQl.sql(s, s"CREATE TABLE $t2(key STRING, value STRING) PARTITIONED BY (ds STRING)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 PARTITION (ds='1') SELECT key, value FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 PARTITION (ds='2') SELECT key, value FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 PARTITION (ds='1') SELECT key, value FROM src")
        HiveQl.sql(s, "SET hive.mapred.mode=strict")
        HiveQl.sql(s, "SET hive.exec.mode.local.auto=true")
        val out = HiveQl.sql(s,
          s"""SELECT count(1) AS n FROM $t1 JOIN $t2 ON $t1.key = $t2.key
              WHERE $t1.ds='1' AND $t2.ds='1'""").localCheckpoint(true)
        HiveQl.sql(s, "SET hive.mapred.mode=nonstrict")
        out
      },
      Some(s"""$SrcCte
        SELECT count(1) AS n FROM src a JOIN src b ON a.key = b.key""")),

    // ---- clientpositive/input40.q: plain + partitioned LOADs of kv1.txt
    QueryDef(
      "q527_qf_input40",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, tp) = (s"tmp_ins_$sfx", s"tmp_ins_p_$sfx")
        fresh(s, t, tp)
        HiveQl.sql(s, s"CREATE TABLE $t (key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"CREATE TABLE $tp (key STRING, value STRING) PARTITIONED BY (ds STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $tp PARTITION (ds = '2009-08-01')")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $t) AS n_plain,
                     (SELECT count(1) FROM $tp WHERE ds = '2009-08-01') AS n_part,
                     (SELECT count(1) FROM $t a JOIN $tp b
                        ON a.key = b.key AND a.value = b.value) AS n_join""")
      },
      Some(s"""$Kv1Cte
        SELECT (SELECT count(1) FROM kv1) AS n_plain,
               (SELECT count(1) FROM kv1) AS n_part,
               (SELECT count(1) FROM kv1 a JOIN kv1 b
                  ON a.key = b.key AND a.value = b.value) AS n_join""")),

    // ---- clientpositive/input42.q: srcpart scans — plain, numeric-coerced
    //      filter, and a rand(100)-sampled leg (range verdict: Hive's
    //      java.util.Random stream differs from Spark's by design)
    QueryDef(
      "q528_qf_input42",
      (s, dir) => {
        fixtures(s, dir)
        val full = HiveQl.sql(s,
          "SELECT count(1) AS n FROM srcpart a WHERE a.ds='2008-04-08'")
        val filt = HiveQl.sql(s,
          "SELECT count(1) AS n FROM srcpart a WHERE a.ds='2008-04-08' AND key < 200")
        val rnd = HiveQl.sql(s,
          """SELECT count(1) BETWEEN 20 AND 300 AS ok
             FROM srcpart a WHERE a.ds='2008-04-08' AND rand(100) < 0.1""")
        full.selectExpr("0 AS stage", "CAST(n AS STRING) AS v")
          .union(filt.selectExpr("1 AS stage", "CAST(n AS STRING) AS v"))
          .union(rnd.selectExpr("2 AS stage", "CAST(ok AS STRING) AS v"))
          .orderBy("stage")
      },
      Some(s"""$SrcPartCte
        SELECT 0 AS stage, CAST(count(1) AS VARCHAR) AS v FROM srcpart WHERE ds='2008-04-08'
        UNION ALL
        SELECT 1, CAST(count(1) AS VARCHAR) FROM srcpart
          WHERE ds='2008-04-08' AND TRY_CAST(key AS DOUBLE) < 200
        UNION ALL SELECT 2, 'true'
        ORDER BY stage""")),

    // ---- clientpositive/input43.q: CREATE LIKE + the same LOAD twice
    //      appends (name_copy_N), doubling the count
    QueryDef(
      "q529_qf_input43",
      (s, dir) => {
        val t = s"tst_src1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        val c1 = HiveQl.sql(s, s"SELECT count(1) AS n FROM $t").localCheckpoint(true)
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        val c2 = HiveQl.sql(s, s"SELECT count(1) AS n FROM $t").localCheckpoint(true)
        c1.withColumn("stage", lit(0)).union(c2.withColumn("stage", lit(1)))
          .orderBy("stage")
      },
      Some("""SELECT * FROM (VALUES (CAST(500 AS BIGINT), 0), (1000, 1))
              v(n, stage) ORDER BY stage""")),

    // ---- clientpositive/input4_cb_delim.q: Ctrl-B field / \n line
    //      delimiters (kv1_cb.txt carries the same pairs as kv1.txt)
    QueryDef(
      "q530_qf_input4_cb_delim",
      (s, dir) => {
        val t = s"input4_cb_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(KEY STRING, VALUE STRING) ROW FORMAT " +
          "DELIMITED FIELDS TERMINATED BY '\\002' LINES TERMINATED BY '\\012' " +
          "STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1_cb.txt' INTO TABLE $t")
        HiveQl.sql(s, s"SELECT $t.VALUE, $t.KEY FROM $t")
          .orderBy("VALUE", "KEY")
      },
      Some(s"$Kv1Cte SELECT value AS VALUE, key AS KEY FROM kv1 ORDER BY VALUE, KEY")),

    // ---- clientpositive/input4_limit.q: SORT BY + LIMIT is an arbitrary
    //      10 under parallel reducers — count + membership facts
    QueryDef(
      "q531_qf_input4_limit",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(1) AS n,
                    sum(CASE WHEN value = concat('val_', key) THEN 1 ELSE 0 END) AS n_member
             FROM (SELECT * FROM src SORT BY key LIMIT 10) t""")
      },
      Some("SELECT CAST(10 AS BIGINT) AS n, CAST(10 AS BIGINT) AS n_member")),

    // ---- clientpositive/input_limit.q
    QueryDef(
      "q532_qf_input_limit",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(1) AS n,
                    sum(CASE WHEN value = concat('val_', key) THEN 1 ELSE 0 END) AS n_member
             FROM (SELECT x.* FROM src x LIMIT 20) t""")
      },
      Some("SELECT CAST(20 AS BIGINT) AS n, CAST(20 AS BIGINT) AS n_member")),

    // ---- clientpositive/input_part0.q: single-key partition pruning
    QueryDef(
      "q533_qf_input_part0",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT x.* FROM srcpart x WHERE x.ds = '2008-04-08'")
          .orderBy("key", "value", "hr")
      },
      Some(s"""$SrcPartCte SELECT * FROM srcpart WHERE ds = '2008-04-08'
               ORDER BY key, value, hr""")),

    // ---- clientpositive/input_part3.q: hr = 11 compares the STRING
    //      partition column against an INT (both-to-double coercion)
    QueryDef(
      "q534_qf_input_part3",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT x.* FROM srcpart x WHERE x.ds = '2008-04-08' AND x.hr = 11")
          .orderBy("key", "value")
      },
      Some(s"""$SrcPartCte SELECT * FROM srcpart
               WHERE ds = '2008-04-08' AND TRY_CAST(hr AS DOUBLE) = 11
               ORDER BY key, value""")),

    // ---- clientpositive/input_part4.q: pruning to a partition that does
    //      not exist is empty, not an error
    QueryDef(
      "q535_qf_input_part4",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT count(1) AS n FROM srcpart x WHERE x.ds = '2008-04-08' AND x.hr = 15")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/input_part6.q: ds = 2008-04-08 is ARITHMETIC
    //      (2008 minus 4 minus 8 = 1996); the string ds never parses as a
    //      number, so both-to-double comparison yields no rows
    QueryDef(
      "q536_qf_input_part6",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT count(1) AS n FROM (SELECT x.* FROM srcpart x WHERE x.ds = 2008-04-08 LIMIT 10) t")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n")),

    // ---- clientpositive/input_part7.q: self-union of one pruned filter
    QueryDef(
      "q537_qf_input_part7",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT * FROM (
               SELECT X.* FROM srcpart X WHERE X.ds = '2008-04-08' AND X.key < 100
               UNION ALL
               SELECT Y.* FROM srcpart Y WHERE Y.ds = '2008-04-08' AND Y.key < 100
             ) A""").orderBy("key", "value", "ds", "hr")
      },
      Some(s"""$SrcPartCte
        SELECT * FROM (
          SELECT * FROM srcpart WHERE ds = '2008-04-08' AND TRY_CAST(key AS DOUBLE) < 100
          UNION ALL
          SELECT * FROM srcpart WHERE ds = '2008-04-08' AND TRY_CAST(key AS DOUBLE) < 100
        ) A ORDER BY key, value, ds, hr""")),

    // ---- clientpositive/input_part5.q: INSERT of x.* into a table whose
    //      hr/ds columns are DECLARED SWAPPED — positional insert puts ds
    //      values in hr and vice versa (the golden pins the swap)
    QueryDef(
      "q538_qf_input_part5",
      (s, dir) => {
        val t = s"tmptable_ip5_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, value STRING, hr STRING, ds STRING)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
              SELECT x.* FROM srcpart x WHERE x.ds = '2008-04-08' AND x.key < 100""")
        HiveQl.sql(s, s"SELECT * FROM $t x").orderBy("key", "value", "ds", "hr")
      },
      Some(s"""$SrcPartCte
        SELECT key, value, ds AS hr, hr AS ds FROM srcpart
        WHERE ds = '2008-04-08' AND TRY_CAST(key AS DOUBLE) < 100
        ORDER BY key, value, ds, hr""")),

    // ---- clientpositive/input20.q: MAP … USING cat, then REDUCE through
    //      the reference's own input20_script (uniq -c over sorted pairs →
    //      "count<TAB>key_key") with an UNTYPED AS list — exercises the
    //      script-path TAB default end to end
    QueryDef(
      "q539_qf_input20",
      (s, dir) => {
        val d = s"dest1_i20_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"ADD FILE $RefScripts/input20_script")
        HiveQl.sql(s,
          s"""FROM (
                FROM src
                MAP src.key, src.key
                USING 'cat'
                DISTRIBUTE BY key
                SORT BY key, value
              ) tmap
              INSERT OVERWRITE TABLE $d
              REDUCE tmap.key, tmap.value
              USING 'input20_script'
              AS key, value""")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte
        SELECT CAST(count(1) AS INT) AS key, key || '_' || key AS value
        FROM src GROUP BY key ORDER BY key, value""")),

    // ---- clientpositive/input33.q: same pipeline with a TYPED AS list
    QueryDef(
      "q540_qf_input33",
      (s, dir) => {
        val d = s"dest1_i33_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"ADD FILE $RefScripts/input20_script")
        HiveQl.sql(s,
          s"""FROM (
                FROM src
                MAP src.key, src.key
                USING 'cat'
                DISTRIBUTE BY key
                SORT BY key, value
              ) tmap
              INSERT OVERWRITE TABLE $d
              REDUCE tmap.key, tmap.value
              USING 'input20_script'
              AS (key STRING, value STRING)""")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte
        SELECT CAST(count(1) AS INT) AS key, key || '_' || key AS value
        FROM src GROUP BY key ORDER BY key, value"""))
  )
}
