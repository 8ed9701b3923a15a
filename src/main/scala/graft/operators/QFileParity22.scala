package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 22 (round 13): high-traffic singles —
  * lateral_view.q (incl. nested/chained explodes over RCFile arrays),
  * semijoin.q's 20-leg LEFT SEMI battery, skewjoin.q under
  * hive.optimize.skewjoin, sort.q, str_to_map.q, type_widening.q,
  * implicit_cast1.q (over the hivectl serde), null_column.q,
  * explode_null.q, notable_alias1.q/notable_alias2.q,
  * tablename_with_select.q, query_with_semi.q (escaped `\;` through
  * TRANSFORM), keyword_1.q (reserved-word columns + grants), cluster.q's
  * CLUSTER BY ladder.
  */
object QFileParity22 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, dump, RefData}
  import QFileParity.Pairs.{facts, ordered}

  /** The semijoin.q fixture quartet (t1 ⊆ src keys ≤ 10, t2 = doubled,
    * t3 = t1 ∪ t2, t4 empty). */
  private def semiFixtures(s: SparkSession, qn: String, sfx: String)
      : (String, String, String, String) = {
    val (t1, t2, t3, t4) = (s"semi_t1_${qn}_$sfx", s"semi_t2_${qn}_$sfx",
      s"semi_t3_${qn}_$sfx", s"semi_t4_${qn}_$sfx")
    fresh(s, t1, t2, t3, t4)
    HiveQl.sql(s, s"create table $t1 as select cast(key as int) key, value " +
      "from src where key <= 10")
    HiveQl.sql(s, s"create table $t2 as select cast(2*key as int) key, value from $t1")
    HiveQl.sql(s, s"create table $t3 as select * from " +
      s"(select * from $t1 union all select * from $t2) b")
    HiveQl.sql(s, s"create table $t4 (key int, value string)")
    (t1, t2, t3, t4)
  }

  private val SemiCtes =
    s"""$SrcCte,
        t1 AS (SELECT CAST(key AS INT) AS key, value FROM src
               WHERE TRY_CAST(key AS DOUBLE) <= 10),
        t2 AS (SELECT CAST(2 * key AS INT) AS key, value FROM t1),
        t3 AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
        t4 AS (SELECT CAST(NULL AS INT) AS key, CAST(NULL AS VARCHAR) AS value
               WHERE false)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/lateral_view.q: single/chained/nested explodes,
    //      case-insensitive table refs, explode over an RCFile array col
    QueryDef(
      "q751_qf_lateral_view",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (lv, rc) = (s"tmp_pyang_lv_$sfx", s"tmp_pyang_src_rcfile_$sfx")
        fresh(s, lv, rc)
        HiveQl.sql(s, s"CREATE TABLE $lv (inputs string) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $lv SELECT key FROM src")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, myCol FROM src LATERAL VIEW " +
          "explode(array(1,2,3)) myTable AS myCol SORT BY key ASC, myCol ASC LIMIT 1"),
          0, "key", "myCol")
        val d1 = dump(HiveQl.sql(s,
          """SELECT myTable.myCol as c1, myTable2.myCol2 as c2 FROM (select * from src order by key limit 1) s
             LATERAL VIEW explode(array(1,2,3)) myTable AS myCol
             LATERAL VIEW explode(array('a', 'b', 'c')) myTable2 AS myCol2"""),
          1, "c1", "c2")
        val d2 = dump(HiveQl.sql(s,
          """SELECT myTable2.myCol2 as c1, 'x' as c2 FROM (select * from src order by key limit 1) s
             LATERAL VIEW explode(array(array(1,2,3))) myTable AS myCol
             LATERAL VIEW explode(myTable.myCol) myTable2 AS myCol2"""),
          2, "c1", "c2")
        // the .q refs the table as tmp_PYANG_lv too — names are
        // case-insensitive; both forms must read
        val d3 = dump(HiveQl.sql(s, s"SELECT myCol, 'x' as c2 from " +
          s"(select * from ${lv.toUpperCase} order by inputs limit 1) t " +
          "LATERAL VIEW explode(array(1,2,3)) myTab as myCol"), 3, "myCol", "c2")
        HiveQl.sql(s, s"CREATE TABLE $rc (key string, value array<string>) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $rc SELECT key, array(value) " +
          "FROM src ORDER BY key LIMIT 20")
        val d4 = dump(HiveQl.sql(s,
          s"SELECT key, myCol from $rc LATERAL VIEW explode(value) myTable AS myCol"),
          4, "key", "myCol")
        val d5 = dump(HiveQl.sql(s,
          s"""SELECT subq.key as key, subq.myCol as myCol FROM (
              SELECT key, myCol from $rc LATERAL VIEW explode(value) myTable AS myCol
             ) subq"""), 5, "key", "myCol")
        ordered(Seq(d0, d1, d2, d3, d4, d5))
      },
      Some(s"""$SrcCte,
          first AS (SELECT key, value FROM src ORDER BY key LIMIT 1),
          top20 AS (SELECT key, value FROM src ORDER BY key LIMIT 20),
          legs AS (
            SELECT 0 AS sec, (SELECT min(key) FROM src) AS c1, '1' AS c2
            UNION ALL SELECT 1, CAST(n AS VARCHAR), a
              FROM unnest([1,2,3]) t(n), unnest(['a','b','c']) u(a)
            UNION ALL SELECT 2, CAST(n AS VARCHAR), 'x' FROM unnest([1,2,3]) t(n)
            UNION ALL SELECT 3, CAST(n AS VARCHAR), 'x' FROM unnest([1,2,3]) t(n)
            UNION ALL SELECT 4, key, value FROM top20
            UNION ALL SELECT 5, key, value FROM top20)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/semijoin.q: the 20-leg LEFT SEMI battery
    QueryDef(
      "q752_qf_semijoin",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3, t4) = semiFixtures(s, "q752", sfx)
        def leg(sec: Int, sql: String, c1: String = "key", c2: String = "value") =
          dump(HiveQl.sql(s, sql), sec, c1, c2)
        val legs = Seq(
          leg(0, s"select * from $t1 a left semi join $t2 b on a.key=b.key"),
          leg(1, s"select * from $t2 a left semi join $t1 b on b.key=a.key"),
          leg(2, s"select * from $t1 a left semi join $t4 b on b.key=a.key"),
          leg(3, s"select a.value as value, 'x' as key from $t1 a left semi join $t3 b " +
            "on (b.key = a.key and b.key < '15')", "value", "key"),
          leg(4, s"""select * from $t1 a left semi join $t2 b on a.key = b.key and b.value < "val_10""""),
          leg(5, s"select a.value as value, 'x' as key from $t1 a left semi join " +
            s"(select key from $t3 where key > 5) b on a.key = b.key", "value", "key"),
          leg(6, s"select a.value as value, 'x' as key from $t1 a left semi join " +
            s"(select key , value from $t2 where key > 5) b " +
            "on a.key = b.key and b.value <= 'val_20'", "value", "key"),
          leg(7, s"select * from $t2 a left semi join " +
            s"(select key , value from $t1 where key > 2) b on a.key = b.key"),
          leg(8, s"select /*+ mapjoin(b) */ a.key as key, 'x' as value from $t3 a " +
            s"left semi join $t1 b on a.key = b.key"),
          leg(9, s"select * from $t1 a left semi join $t2 b on a.key = 2*b.key"),
          leg(10, s"select a.key as key, a.value as value from $t1 a join $t2 b on a.key = b.key " +
            s"left semi join $t3 c on b.key = c.key"),
          leg(11, s"select * from $t3 a left semi join $t1 b on a.key = b.key and a.value=b.value"),
          leg(12, s"select /*+ mapjoin(b, c) */ a.key as key, 'x' as value from $t3 a " +
            s"left semi join $t1 b on a.key = b.key left semi join $t2 c on a.key = c.key"),
          leg(13, s"select a.key as key, 'x' as value from $t3 a left outer join $t1 b " +
            s"on a.key = b.key left semi join $t2 c on b.key = c.key"),
          leg(14, s"select a.key as key, 'x' as value from $t1 a right outer join $t3 b " +
            s"on a.key = b.key left semi join $t2 c on b.key = c.key"),
          leg(15, s"select a.key as key, 'x' as value from $t1 a full outer join $t3 b " +
            s"on a.key = b.key left semi join $t2 c on b.key = c.key"),
          leg(16, s"select a.key as key, 'x' as value from $t3 a left semi join $t2 b " +
            s"on a.key = b.key left outer join $t1 c on a.key = c.key"),
          leg(17, s"select a.key as key, 'x' as value from $t3 a left semi join $t2 b " +
            s"on a.key = b.key right outer join $t1 c on a.key = c.key"),
          leg(18, s"select a.key as key, 'x' as value from $t3 a left semi join $t1 b " +
            s"on a.key = b.key full outer join $t2 c on a.key = c.key"),
          leg(19, s"select a.key as key, 'x' as value from $t3 a left semi join $t2 b " +
            s"on a.key = b.key left outer join $t1 c on a.value = c.value"))
        ordered(legs)
      },
      Some(s"""$SemiCtes,
          legs AS (
            SELECT 0 AS sec, CAST(a.key AS VARCHAR) AS c1, a.value AS c2 FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t2 b WHERE a.key=b.key)
            UNION ALL SELECT 1, CAST(a.key AS VARCHAR), a.value FROM t2 a
              WHERE EXISTS (SELECT 1 FROM t1 b WHERE b.key=a.key)
            UNION ALL SELECT 2, CAST(a.key AS VARCHAR), a.value FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t4 b WHERE b.key=a.key)
            UNION ALL SELECT 3, a.value, 'x' FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t3 b WHERE b.key = a.key AND b.key < 15)
            UNION ALL SELECT 4, CAST(a.key AS VARCHAR), a.value FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t2 b WHERE a.key = b.key AND b.value < 'val_10')
            UNION ALL SELECT 5, a.value, 'x' FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t3 b WHERE a.key = b.key AND b.key > 5)
            UNION ALL SELECT 6, a.value, 'x' FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t2 b WHERE a.key = b.key AND b.key > 5
                            AND b.value <= 'val_20')
            UNION ALL SELECT 7, CAST(a.key AS VARCHAR), a.value FROM t2 a
              WHERE EXISTS (SELECT 1 FROM t1 b WHERE a.key = b.key AND b.key > 2)
            UNION ALL SELECT 8, CAST(a.key AS VARCHAR), 'x' FROM t3 a
              WHERE EXISTS (SELECT 1 FROM t1 b WHERE a.key = b.key)
            UNION ALL SELECT 9, CAST(a.key AS VARCHAR), a.value FROM t1 a
              WHERE EXISTS (SELECT 1 FROM t2 b WHERE a.key = 2*b.key)
            UNION ALL SELECT 10, CAST(a.key AS VARCHAR), a.value
              FROM t1 a JOIN t2 b ON a.key = b.key
              WHERE EXISTS (SELECT 1 FROM t3 c WHERE b.key = c.key)
            UNION ALL SELECT 11, CAST(a.key AS VARCHAR), a.value FROM t3 a
              WHERE EXISTS (SELECT 1 FROM t1 b WHERE a.key = b.key AND a.value = b.value)
            UNION ALL SELECT 12, CAST(a.key AS VARCHAR), 'x' FROM t3 a
              WHERE EXISTS (SELECT 1 FROM t1 b WHERE a.key = b.key)
                AND EXISTS (SELECT 1 FROM t2 c WHERE a.key = c.key)
            UNION ALL SELECT 13, CAST(a.key AS VARCHAR), 'x'
              FROM (SELECT a.key AS ak, b.key AS bk FROM t3 a LEFT JOIN t1 b
                    ON a.key = b.key) j
              CROSS JOIN LATERAL (SELECT j.ak AS key) a
              WHERE EXISTS (SELECT 1 FROM t2 c WHERE j.bk = c.key)
            UNION ALL SELECT 14, CAST(j.ak AS VARCHAR), 'x'
              FROM (SELECT a.key AS ak, b.key AS bk FROM t3 b LEFT JOIN t1 a
                    ON a.key = b.key) j
              WHERE EXISTS (SELECT 1 FROM t2 c WHERE j.bk = c.key)
            UNION ALL SELECT 15, CAST(j.ak AS VARCHAR), 'x'
              FROM (SELECT a.key AS ak, b.key AS bk FROM t1 a FULL JOIN t3 b
                    ON a.key = b.key) j
              WHERE EXISTS (SELECT 1 FROM t2 c WHERE j.bk = c.key)
            UNION ALL SELECT 16, CAST(a.key AS VARCHAR), 'x'
              FROM (SELECT * FROM t3 a0 WHERE EXISTS
                    (SELECT 1 FROM t2 b WHERE a0.key = b.key)) a
              LEFT JOIN t1 c ON a.key = c.key
            UNION ALL SELECT 17, CAST(a.key AS VARCHAR), 'x'
              FROM t1 c LEFT JOIN (SELECT * FROM t3 a0 WHERE EXISTS
                    (SELECT 1 FROM t2 b WHERE a0.key = b.key)) a
              ON a.key = c.key
            UNION ALL SELECT 18, CAST(a.key AS VARCHAR), 'x'
              FROM (SELECT * FROM t3 a0 WHERE EXISTS
                    (SELECT 1 FROM t1 b WHERE a0.key = b.key)) a
              FULL JOIN t2 c ON a.key = c.key
            UNION ALL SELECT 19, CAST(a.key AS VARCHAR), 'x'
              FROM (SELECT * FROM t3 a0 WHERE EXISTS
                    (SELECT 1 FROM t2 b WHERE a0.key = b.key)) a
              LEFT JOIN t1 c ON a.value = c.value)
          SELECT * FROM legs
          ORDER BY sec, c1 NULLS FIRST, c2 NULLS FIRST""")),

    // ---- clientpositive/skewjoin.q: the skew-join conf path — identical
    //      rows to the plain join (AQE skew handling is the engine's
    //      mechanism; q49/SkewAndSinkSpec pin the plan side)
    QueryDef(
      "q753_qf_skewjoin",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (a, b, c, d4, dj) = (s"skj_t1_$sfx", s"skj_t2_$sfx", s"skj_t3_$sfx",
          s"skj_t4_$sfx", s"skj_dest_$sfx")
        fresh(s, a, b, c, d4, dj)
        HiveQl.sql(s, "set hive.optimize.skewjoin = true")
        HiveQl.sql(s, "set hive.skewjoin.key = 2")
        for ((t, f) <- Seq(a -> "T1", b -> "T2", c -> "T3", d4 -> "T1")) {
          HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
          HiveQl.sql(s, "LOAD DATA LOCAL INPATH " +
            s"'$RefData/$f.txt' INTO TABLE $t")
        }
        HiveQl.sql(s, s"CREATE TABLE $dj(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src src1 JOIN src src2 ON (src1.key = src2.key) " +
          s"INSERT OVERWRITE TABLE $dj SELECT src1.key, src2.value")
        val c0 = facts(s, 0, Seq("dest_rows" ->
          HiveQl.sql(s, s"select count(1) from $dj").collect()(0).getLong(0).toString))
        val d1 = dump(HiveQl.sql(s,
          s"""SELECT /*+ STREAMTABLE(a) */ concat(a.key,'|',b.val,'|',c.val) as c1,
              d.val as c2
            FROM $a a JOIN $b b ON a.key = b.key
                      JOIN $c c ON b.key = c.key
                      JOIN $d4 d ON c.key = d.key"""), 1, "c1", "c2")
        val d2 = dump(HiveQl.sql(s,
          s"""SELECT concat(x.key, '|', Y.value) as c1, 'x' as c2 FROM
              (SELECT src.* FROM src) x JOIN (SELECT src.* FROM src) Y
              ON (x.key = Y.key) WHERE x.key < 10"""), 2, "c1", "c2")
        ordered(Seq(c0, d1, d2))
      },
      Some(s"""$SrcCte,
          tt1(key, val) AS (VALUES ('1','11'),('2','12'),('3','13'),('7','17'),('8','18'),('8','28')),
          tt2(key, val) AS (VALUES ('2','22'),('3','13'),('4','14'),('5','15'),('8','18'),('8','18')),
          tt3(key, val) AS (VALUES ('2','12'),('4','14'),('6','16'),('7','17')),
          j AS (SELECT count(*) AS n FROM src a JOIN src b ON a.key = b.key),
          legs AS (
            SELECT 0 AS sec, 'dest_rows' AS c1, CAST((SELECT n FROM j) AS VARCHAR) AS c2
            UNION ALL
            SELECT 1, a.key || '|' || b.val || '|' || c.val, d.val
            FROM tt1 a JOIN tt2 b ON a.key = b.key
                 JOIN tt3 c ON b.key = c.key
                 JOIN tt1 d ON c.key = d.key
            UNION ALL
            SELECT 2, x.key || '|' || y.value, 'x'
            FROM src x JOIN src y ON x.key = y.key
            WHERE TRY_CAST(x.key AS DOUBLE) < 10)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/sort.q / cluster.q: SORT BY / CLUSTER BY ladders
    QueryDef(
      "q754_qf_sort",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT x.* FROM SRC x SORT BY key").orderBy("key", "value")
      },
      Some(s"$SrcCte SELECT key, value FROM src ORDER BY key, value")),

    QueryDef(
      "q755_qf_cluster",
      (s, dir) => {
        fixtures(s, dir)
        val legs = Seq(
          (0, "SELECT x.key as key, x.value as value FROM SRC x where x.key = 10 CLUSTER BY x.key"),
          (1, "SELECT x.key as key, x.value as value FROM SRC x where x.key = 20 CLUSTER BY key"),
          (2, "SELECT x.key as key, x.value as v1 FROM SRC x where x.key = 20 CLUSTER BY key"),
          (3, "SELECT x.key as key, x.value as v1 FROM SRC x where x.key = 20 CLUSTER BY v1"))
        legs.map { case (sec, q) =>
          val df = HiveQl.sql(s, q)
          dump(df.toDF("key", "value"), sec, "key", "value")
        }.reduce(_ union _).orderBy("sec", "c1", "c2")
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE TRY_CAST(key AS DOUBLE) = 10
          UNION ALL SELECT s.sec, key, value FROM src
            CROSS JOIN (VALUES (1),(2),(3)) s(sec)
            WHERE TRY_CAST(key AS DOUBLE) = 20)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/str_to_map.q (map results stringified — the gate
    //      cannot hash map cells)
    QueryDef(
      "q756_qf_str_to_map",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """select str_to_map('a=1,b=2,c=3',',','=')['a'] as c1,
              str_to_map('a:1,b:2,c:3')['b'] as c2,
              str_to_map('a:1,b:2,c:3',',',':')['c'] as c3,
              (select str_to_map(t.ss,',',':')['a']
               from (select transform('a:1,b:2,c:3') using 'cat' as (ss)
                     from src limit 1) t) as c4
            from src limit 3""")
      },
      Some("""SELECT '1' AS c1, '2' AS c2, '3' AS c3, '1' AS c4
          FROM (VALUES (1),(2),(3))""")),

    // ---- clientpositive/type_widening.q: INT ∪ BIGINT widens
    QueryDef(
      "q757_qf_type_widening",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT c1, cnt FROM (
              SELECT numcol as c1, count(1) as cnt FROM (
                SELECT 0 AS numcol FROM src UNION ALL
                SELECT 9223372036854775807 AS numcol FROM src) a
              GROUP BY numcol) t ORDER BY c1""")
      },
      Some(s"""$SrcCte, n AS (SELECT count(*) AS cnt FROM src)
          SELECT c1, (SELECT cnt FROM n) AS cnt FROM (VALUES
            (CAST(0 AS BIGINT)), (9223372036854775807)) v(c1) ORDER BY c1""")),

    // ---- clientpositive/implicit_cast1.q: BIGINT <> 0 over the hivectl
    //      (DynamicSerDe/TCTLSeparatedProtocol) table — empty result
    QueryDef(
      "q758_qf_implicit_cast1",
      (s, dir) => {
        val t = s"implicit_test1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(a BIGINT, b STRING)
            ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.dynamic_type.DynamicSerDe'
            WITH SERDEPROPERTIES('serialization.format'=
              'org.apache.hadoop.hive.serde2.thrift.TCTLSeparatedProtocol')
            STORED AS TEXTFILE""")
        HiveQl.sql(s,
          s"SELECT count(*) as cnt FROM $t WHERE $t.a <> 0")
      },
      Some("SELECT CAST(0 AS BIGINT) AS cnt")),

    // ---- clientpositive/null_column.q: all-NULL projections through
    //      inserts, LazyBinary serde, and INSERT OVERWRITE DIRECTORY
    QueryDef(
      "q759_qf_null_column",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (tn, tt, tb) = (s"temp_null_$sfx", s"nullcol_tt_$sfx", s"nullcol_ttb_$sfx")
        fresh(s, tn, tt, tb)
        HiveQl.sql(s, s"create table $tn(a int) stored as textfile")
        HiveQl.sql(s, "load data local inpath " +
          s"'$RefData/test.dat' overwrite into table $tn")
        val d0 = dump(HiveQl.sql(s, s"select null as a, null as b from $tn"),
          0, "a", "b")
        HiveQl.sql(s, s"create table $tt(a int, b string)")
        HiveQl.sql(s, s"insert overwrite table $tt select null, null from $tn")
        val d1 = dump(HiveQl.sql(s, s"select * from $tt"), 1, "a", "b")
        HiveQl.sql(s, s"""create table $tb(a int, b string) row format serde
          "org.apache.hadoop.hive.serde2.lazybinary.LazyBinarySerDe"""")
        HiveQl.sql(s, s"insert overwrite table $tb select null, null from $tn")
        val d2 = dump(HiveQl.sql(s, s"select * from $tb"), 2, "a", "b")
        ordered(Seq(d0, d1, d2))
      },
      Some("""SELECT s.sec, CAST(NULL AS VARCHAR) AS c1, CAST(NULL AS VARCHAR) AS c2
          FROM (VALUES (0),(1),(2)) s(sec), unnest([1,2,3,4,5,6]) t(x)
          ORDER BY sec""")),

    // ---- clientpositive/explode_null.q: explode over a NULL array/map
    //      contributes no rows
    QueryDef(
      "q760_qf_explode_null",
      (s, dir) => {
        fixtures(s, dir)
        val d0 = dump(HiveQl.sql(s,
          """SELECT explode(col) AS myCol FROM
              ((SELECT array(1,2,3) AS col FROM src LIMIT 1)
               UNION ALL
               (SELECT IF(false, array(1,2,3), NULL) AS col FROM src LIMIT 1)) a""")
          .select(col("myCol"), lit("x").as("c2")), 0, "myCol", "c2")
        val d1 = dump(HiveQl.sql(s,
          """SELECT explode(col) AS (myCol1,myCol2) FROM
              ((SELECT map(1,'one',2,'two',3,'three') AS col FROM src LIMIT 1)
               UNION ALL
               (SELECT IF(false, map(1,'one',2,'two',3,'three'), NULL) AS col FROM src LIMIT 1)) a"""),
          1, "myCol1", "myCol2")
        d0.union(d1).orderBy("sec", "c1", "c2")
      },
      Some("""SELECT * FROM (
          SELECT 0 AS sec, CAST(n AS VARCHAR) AS c1, 'x' AS c2
          FROM unnest([1,2,3]) t(n)
          UNION ALL SELECT 1, CAST(n AS VARCHAR),
            CASE n WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'three' END
          FROM unnest([1,2,3]) t(n)) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/notable_alias1.q / notable_alias2.q: constant +
    //      aggregate projections without a table alias
    QueryDef(
      "q761_qf_notable_alias1",
      (s, dir) => {
        val d = s"dest_na1_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(dummy STRING, key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT '1234', key, count(1) WHERE src.key < 100 group by key")
        HiveQl.sql(s, s"SELECT $d.* FROM $d").orderBy("key")
      },
      Some(s"""$SrcCte
          SELECT '1234' AS dummy, CAST(key AS INT) AS key,
            CAST(count(*) AS DOUBLE) AS value
          FROM src WHERE TRY_CAST(key AS DOUBLE) < 100
          GROUP BY key ORDER BY key""")),

    QueryDef(
      "q762_qf_notable_alias2",
      (s, dir) => {
        val d = s"dest_na2_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(dummy STRING, key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
          "SELECT '1234', src.key, count(1) WHERE key < 100 group by src.key")
        HiveQl.sql(s, s"SELECT $d.* FROM $d").orderBy("key")
      },
      Some(s"""$SrcCte
          SELECT '1234' AS dummy, CAST(key AS INT) AS key,
            CAST(count(*) AS DOUBLE) AS value
          FROM src WHERE TRY_CAST(key AS DOUBLE) < 100
          GROUP BY key ORDER BY key""")),

    // ---- clientpositive/tablename_with_select.q
    QueryDef(
      "q763_qf_tablename_with_select",
      (s, dir) => {
        val t = s"tmp_select_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(a INT, b STRING)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT key, value FROM src")
        HiveQl.sql(s, s"SELECT a, b FROM $t ORDER BY a, b")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS a, value AS b FROM src
          ORDER BY a, b""")),

    // ---- clientpositive/query_with_semi.q: `\;` inside a TRANSFORM
    //      literal survives statement splitting
    QueryDef(
      "q764_qf_query_with_semi",
      (s, dir) => {
        fixtures(s, dir)
        val a = HiveQl.sql(s,
          "from src select transform('aa\\;') using '/bin/cat' as a limit 1")
          .localCheckpoint(true)
        val b = HiveQl.sql(s,
          "from src select transform('bb') using '/bin/cat' as b limit 1")
          .localCheckpoint(true)
        val c = HiveQl.sql(s,
          "from src select transform('cc') using '/bin/cat' as c limit 1")
          .localCheckpoint(true)
        a.select(col("a").as("v")).union(b.select(col("b")))
          .union(c.select(col("c"))).orderBy("v")
      },
      Some("""SELECT v FROM (VALUES ('aa;'), ('bb'), ('cc')) t(v) ORDER BY v""")),

    // ---- clientpositive/keyword_1.q: reserved-word column names
    //      (user/role/`group`) through CREATE + grants
    QueryDef(
      "q765_qf_keyword_1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"test_user_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (`user` string, `group` string)")
        HiveQl.sql(s, s"revoke select on table $t from user hive_test")
        HiveQl.sql(s, s"grant select on table $t to user hive_test")
        val g0 = facts(s, 0, HiveQl.sql(s,
          s"show grant user hive_test on table $t").collect().toSeq
          .map(r => (r.getString(4), r.getString(3))))
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"create table $t (`role` string, `group` string)")
        HiveQl.sql(s, s"revoke select on table $t from user hive_test")
        HiveQl.sql(s, s"grant select on table $t to user hive_test")
        val g1 = facts(s, 1, HiveQl.sql(s,
          s"show grant user hive_test on table $t").collect().toSeq
          .map(r => (r.getString(4), r.getString(3))))
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(g0, g1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'Select', 'USER'), (1, 'Select', 'USER')) v(sec, c1, c2)
          ORDER BY sec, c1, c2"""))
  )
}
