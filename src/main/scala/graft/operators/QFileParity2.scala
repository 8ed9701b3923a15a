package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 2 (round 12): the join-reordering /
  * mapjoin-subquery remainder of clientpositive — join19, join26–join40 —
  * over the same deterministic `src`/`src1`/`srcpart` fixtures as
  * [[QFileParity]] (whose helpers this module reuses). Statements run
  * verbatim through [[graft.HiveQl.sql]]; readbacks gain the battery's
  * usual total ORDER BY (+ GROUP BY count compaction for fan-out joins)
  * because the gate hash-compares rows instead of diffing goldens.
  *
  * Buffering-only knobs the `.q` files sweep (hive.mapjoin.numrows,
  * hive.mapjoin.cache.numrows, hive.join.cache.size — reduce/local-task
  * memory shaping in the reference, ref ql/src/java/.../MapJoinOperator
  * .java) have no Spark analogue and no result effect; they are noted per
  * query and not replayed.
  */
object QFileParity2 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, Src1Cte, RefData}

  /** src1 + srcpart + src in one oracle prelude (join26/join32's shape). */
  private val Src1PartCte = SrcPartCte.stripSuffix(")") + """),
       src1 AS (
         SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                     ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS key,
                CASE WHEN n_nationkey % 3 = 0 THEN ''
                     ELSE 'val_' || CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS value
         FROM nation)"""

  /** The 3-col dest readback every dest_j1(key,value,val2) query shares. */
  private def read3(d: String): String =
    s"""SELECT key, value, val2, CAST(count(*) AS BIGINT) AS n
        FROM $d GROUP BY key, value, val2 ORDER BY key, value, val2"""

  private val Order3 =
    "GROUP BY 1, 2, 3 ORDER BY key NULLS FIRST, value NULLS FIRST, val2 NULLS FIRST"

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/join26.q: MAPJOIN(x,y) over a 3-way join with a
    //      partition-filtered srcpart leg (z.hr=11 is the string-vs-int
    //      coercion case); the two small sides broadcast
    QueryDef(
      "q402_qf_join26",
      (s, dir) => {
        val d = s"dest_j26_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x,y) */ x.key, z.value, y.value
              FROM src1 x JOIN src y ON (x.key = y.key)
              JOIN srcpart z ON (x.key = z.key and z.ds='2008-04-08' and z.hr=11)""")
        HiveQl.sql(s, read3(d))
      },
      Some(s"""$Src1PartCte
        SELECT x.key AS key, z.value AS value, y.value AS val2,
               CAST(count(*) AS BIGINT) AS n
        FROM src1 x JOIN src y ON x.key = y.key
        JOIN srcpart z ON x.key = z.key AND z.ds = '2008-04-08' AND z.hr = '11'
        $Order3""")),

    // ---- clientpositive/join27.q: MAPJOIN on a VALUE-equality join; the
    //      INT dest exercises the legacy string→int store cast ('' → NULL)
    QueryDef(
      "q403_qf_join27",
      (s, dir) => {
        val d = s"dest_j27_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, x.value, y.value
              FROM src1 x JOIN src y ON (x.value = y.value)""")
        HiveQl.sql(s, read3(d))
      },
      Some(s"""$Src1Cte
        SELECT TRY_CAST(x.key AS INT) AS key, x.value AS value,
               y.value AS val2, CAST(count(*) AS BIGINT) AS n
        FROM src1 x JOIN src y ON x.value = y.value
        $Order3""")),

    // ---- clientpositive/join28.q: MAPJOIN hint INSIDE a subquery plus a
    //      second hint on the outer join to the filtered partition
    QueryDef(
      "q404_qf_join28",
      (s, dir) => {
        val d = s"dest_j28_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(z) */ subq.key1, z.value
              FROM
              (SELECT /*+ MAPJOIN(x) */ x.key as key1, x.value as value1, y.key as key2, y.value as value2
               FROM src1 x JOIN src y ON (x.key = y.key)) subq
               JOIN srcpart z ON (subq.key1 = z.key and z.ds='2008-04-08' and z.hr=11)""")
        HiveQl.sql(s, s"SELECT key, value, CAST(count(*) AS BIGINT) AS n " +
          s"FROM $d GROUP BY key, value ORDER BY key, value")
      },
      Some(s"""$Src1PartCte
        SELECT x.key AS key, z.value AS value, CAST(count(*) AS BIGINT) AS n
        FROM src1 x JOIN src y ON x.key = y.key
        JOIN srcpart z ON x.key = z.key AND z.ds = '2008-04-08' AND z.hr = '11'
        GROUP BY 1, 2 ORDER BY key NULLS FIRST, value NULLS FIRST""")),

    // ---- clientpositive/join29.q: MAPJOIN of two GROUP BY subqueries —
    //      the hint targets a derived table, not a base table
    QueryDef(
      "q405_qf_join29",
      (s, dir) => {
        val d = s"dest_j29_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, cnt1 INT, cnt2 INT)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(subq1) */ subq1.key, subq1.cnt, subq2.cnt
              FROM (select x.key, count(1) as cnt from src1 x group by x.key) subq1 JOIN
                   (select y.key, count(1) as cnt from src y group by y.key) subq2 ON (subq1.key = subq2.key)""")
        HiveQl.sql(s, s"SELECT key, cnt1, cnt2 FROM $d ORDER BY key, cnt1, cnt2")
      },
      Some(s"""$Src1Cte
        SELECT s1.key AS key, s1.cnt AS cnt1, s2.cnt AS cnt2 FROM
          (SELECT key, CAST(count(*) AS INT) AS cnt FROM src1 GROUP BY 1) s1
        JOIN
          (SELECT key, CAST(count(*) AS INT) AS cnt FROM src GROUP BY 1) s2
        ON s1.key = s2.key
        ORDER BY key NULLS FIRST, cnt1 NULLS FIRST, cnt2 NULLS FIRST""")),

    // ---- clientpositive/join30.q: MAPJOIN feeding a GROUP BY — broadcast
    //      join below a partial/final aggregate
    QueryDef(
      "q406_qf_join30",
      (s, dir) => {
        val d = s"dest_j30_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, cnt INT)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, count(1) FROM src1 x JOIN src y ON (x.key = y.key) group by x.key""")
        HiveQl.sql(s, s"SELECT key, cnt FROM $d ORDER BY key, cnt")
      },
      Some(s"""$Src1Cte
        SELECT TRY_CAST(x.key AS INT) AS key, CAST(count(*) AS INT) AS cnt
        FROM src1 x JOIN src y ON x.key = y.key GROUP BY 1
        ORDER BY key NULLS FIRST, cnt NULLS FIRST""")),

    // ---- clientpositive/join31.q: GROUP BY over a MAPJOIN of two GROUP BY
    //      subqueries (agg → broadcast join → agg again)
    QueryDef(
      "q407_qf_join31",
      (s, dir) => {
        val d = s"dest_j31_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, cnt INT)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(subq1) */ subq1.key, count(1) as cnt
              FROM (select x.key, count(1) as cnt from src1 x group by x.key) subq1 JOIN
                   (select y.key, count(1) as cnt from src y group by y.key) subq2 ON (subq1.key = subq2.key)
              group by subq1.key""")
        HiveQl.sql(s, s"SELECT key, cnt FROM $d ORDER BY key, cnt")
      },
      Some(s"""$Src1Cte
        SELECT s1.key AS key, CAST(count(*) AS INT) AS cnt FROM
          (SELECT key FROM src1 GROUP BY 1) s1
        JOIN
          (SELECT key FROM src GROUP BY 1) s2
        ON s1.key = s2.key GROUP BY 1
        ORDER BY key NULLS FIRST, cnt NULLS FIRST""")),

    // ---- clientpositive/join32.q + join33.q: the same 3-way join keyed on
    //      VALUE against the filtered partition, under MAPJOIN(x,z) (j32)
    //      and MAPJOIN(x) (j33) — hint sets differ, results must not
    QueryDef(
      "q408_qf_join32",
      (s, dir) => {
        val d = s"dest_j32_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 STRING) STORED AS TEXTFILE")
        def ins(hint: String) = HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN($hint) */ x.key, z.value, y.value
              FROM src1 x JOIN src y ON (x.key = y.key)
              JOIN srcpart z ON (x.value = z.value and z.ds='2008-04-08' and z.hr=11)""")
        ins("x,z") // join32.q
        val j32 = HiveQl.sql(s, read3(d)).localCheckpoint(true)
        ins("x")   // join33.q — overwrite with the other hint set
        val j33 = HiveQl.sql(s, read3(d)).localCheckpoint(true)
        j32.selectExpr("1 AS jt", "*").union(j33.selectExpr("2 AS jt", "*"))
          .orderBy("jt", "key", "value", "val2")
      },
      Some(s"""$Src1PartCte, j AS (
        SELECT x.key AS key, z.value AS value, y.value AS val2,
               CAST(count(*) AS BIGINT) AS n
        FROM src1 x JOIN src y ON x.key = y.key
        JOIN srcpart z ON x.value = z.value AND z.ds = '2008-04-08' AND z.hr = '11'
        GROUP BY 1, 2, 3)
        SELECT jt, key, value, val2, n
        FROM (SELECT 1 AS jt, * FROM j UNION ALL SELECT 2 AS jt, * FROM j) u
        ORDER BY jt, key NULLS FIRST, value NULLS FIRST, val2 NULLS FIRST""")),

    // ---- clientpositive/join34.q: MAPJOIN against a UNION ALL subquery
    //      (two filtered src scans union, then broadcast-joined to src1)
    QueryDef(
      "q409_qf_join34",
      (s, dir) => {
        val d = s"dest_j34_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, x.value, subq1.value
              FROM
              ( SELECT x.key as key, x.value as value from src x where x.key < 20
                   UNION ALL
                SELECT x1.key as key, x1.value as value from src x1 where x1.key > 100
              ) subq1
              JOIN src1 x ON (x.key = subq1.key)""")
        HiveQl.sql(s, read3(d))
      },
      Some(s"""$Src1Cte, subq1 AS (
        SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) < 20
        UNION ALL
        SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) > 100)
        SELECT x.key AS key, x.value AS value, subq1.value AS val2,
               CAST(count(*) AS BIGINT) AS n
        FROM subq1 JOIN src1 x ON x.key = subq1.key
        $Order3""")),

    // ---- clientpositive/join35.q: as join34 but the union legs carry
    //      their own GROUP BY aggregates; INT dest from the counts
    QueryDef(
      "q410_qf_join35",
      (s, dir) => {
        val d = s"dest_j35_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, x.value, subq1.cnt
              FROM
              ( SELECT x.key as key, count(1) as cnt from src x where x.key < 20 group by x.key
                   UNION ALL
                SELECT x1.key as key, count(1) as cnt from src x1 where x1.key > 100 group by x1.key
              ) subq1
              JOIN src1 x ON (x.key = subq1.key)""")
        HiveQl.sql(s, s"SELECT key, value, val2 FROM $d ORDER BY key, value, val2")
      },
      Some(s"""$Src1Cte, subq1 AS (
        SELECT key, CAST(count(*) AS INT) AS cnt FROM src
        WHERE TRY_CAST(key AS DOUBLE) < 20 GROUP BY 1
        UNION ALL
        SELECT key, CAST(count(*) AS INT) AS cnt FROM src
        WHERE TRY_CAST(key AS DOUBLE) > 100 GROUP BY 1)
        SELECT x.key AS key, x.value AS value, subq1.cnt AS val2
        FROM subq1 JOIN src1 x ON x.key = subq1.key
        ORDER BY key NULLS FIRST, value NULLS FIRST, val2 NULLS FIRST""")),

    // ---- clientpositive/join36.q: MAPJOIN over two pre-aggregated WHOLE-
    //      src tables (equal-size sides; the .q's hive.mapjoin.numrows=2 is
    //      a local-task spill knob with no result effect)
    QueryDef(
      "q411_qf_join36",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, d) = (s"tmp1_j36_$sfx", s"tmp2_j36_$sfx", s"dest_j36_$sfx")
        fresh(s, t1, t2, d)
        HiveQl.sql(s, s"CREATE TABLE $t1(key INT, cnt INT)")
        HiveQl.sql(s, s"CREATE TABLE $t2(key INT, cnt INT)")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value INT, val2 INT)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 SELECT key, count(1) from src group by key")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT key, count(1) from src group by key")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, x.cnt, y.cnt
              FROM $t1 x JOIN $t2 y ON (x.key = y.key)""")
        HiveQl.sql(s, s"SELECT key, value, val2 FROM $d ORDER BY key, value, val2")
      },
      Some(s"""$SrcCte, c AS (
        SELECT CAST(key AS INT) AS key, CAST(count(*) AS INT) AS cnt
        FROM src GROUP BY 1)
        SELECT x.key AS key, x.cnt AS value, y.cnt AS val2
        FROM c x JOIN c y ON x.key = y.key
        ORDER BY key NULLS FIRST, value NULLS FIRST, val2 NULLS FIRST""")),

    // ---- clientpositive/join37.q: single-table MAPJOIN(X) (upper-case
    //      alias in the hint must still resolve); INT store cast on key
    QueryDef(
      "q412_qf_join37",
      (s, dir) => {
        val d = s"dest_j37_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(X) */ x.key, x.value, y.value
              FROM src1 x JOIN src y ON (x.key = y.key)""")
        HiveQl.sql(s, read3(d))
      },
      Some(s"""$Src1Cte
        SELECT TRY_CAST(x.key AS INT) AS key, x.value AS value,
               y.value AS val2, CAST(count(*) AS BIGINT) AS n
        FROM src1 x JOIN src y ON x.key = y.key
        $Order3""")),

    // ---- clientpositive/join38.q: a 12-column derived tmp table (string
    //      arithmetic store casts) mapjoined back to src on col11 with a
    //      constant coercion filter. On this fixture key 111 is not a
    //      quadratic residue, so the join is verifiably EMPTY — the oracle
    //      pins both the 20-row tmp build and the 0-row join
    QueryDef(
      "q413_qf_join38",
      (s, dir) => {
        val t = s"tmp_j38_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(col0 string, col1 string, col2 string, col3 string, col4 string, col5 string, col6 string, col7 string, col8 string, col9 string, col10 string, col11 string)")
        HiveQl.sql(s,
          s"""insert overwrite table $t
              select key, cast(key + 1 as int), key + 2, key + 3, key + 4, cast(key + 5 as int),
                     key + 6, key + 7, key + 8, key + 9, key + 10, cast(key + 11 as int)
              from src where key = 100""")
        // the FROM-first grouped select runs VERBATIM; its row count joins
        // the tmp count through the DataFrame API (a nested FROM-first
        // subquery is not Hive grammar)
        val joined = HiveQl.sql(s,
          s"""FROM src a JOIN $t b ON (a.key = b.col11)
              SELECT /*+ MAPJOIN(a) */ a.value, b.col5, count(1) as count
              where b.col11 = 111
              group by a.value, b.col5""")
        import org.apache.spark.sql.functions.{count => cnt, lit}
        HiveQl.sql(s, s"SELECT 1 AS jt, CAST(count(*) AS BIGINT) AS n FROM $t")
          .union(joined.agg(cnt(lit(1)).cast("long").as("n"))
            .selectExpr("CAST(2 AS INT) AS jt", "n"))
          .orderBy("jt")
      },
      Some(s"""$SrcCte, tmp AS (
        SELECT CAST(CAST(TRY_CAST(key AS DOUBLE) + 11 AS INT) AS VARCHAR) AS col11
        FROM src WHERE TRY_CAST(key AS DOUBLE) = 100)
        SELECT 1 AS jt, CAST(count(*) AS BIGINT) AS n FROM tmp
        UNION ALL
        SELECT 2 AS jt, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT a.value FROM src a JOIN tmp b ON a.key = b.col11
          WHERE TRY_CAST(b.col11 AS DOUBLE) = 111
          GROUP BY a.value, b.col11) q
        ORDER BY jt""")),

    // ---- clientpositive/join39.q: LEFT OUTER MAPJOIN where the BROADCAST
    //      side is the preserved-null side's filtered subquery (the .q's
    //      hive.mapjoin.cache.numrows=2 is a spill knob, no result effect)
    QueryDef(
      "q414_qf_join39",
      (s, dir) => {
        val d = s"dest_j39_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, key1 string, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(y) */ x.key, x.value, y.key, y.value
              FROM src x left outer JOIN (select * from src where key <= 100) y ON (x.key = y.key)""")
        HiveQl.sql(s, s"SELECT key, value, key1, val2, CAST(count(*) AS BIGINT) AS n " +
          s"FROM $d GROUP BY key, value, key1, val2 ORDER BY key, value, key1, val2")
      },
      Some(s"""$SrcCte
        SELECT x.key AS key, x.value AS value, y.key AS key1, y.value AS val2,
               CAST(count(*) AS BIGINT) AS n
        FROM src x LEFT OUTER JOIN
          (SELECT * FROM src WHERE TRY_CAST(key AS DOUBLE) <= 100) y
        ON x.key = y.key
        GROUP BY 1, 2, 3, 4
        ORDER BY key NULLS FIRST, value NULLS FIRST, key1 NULLS FIRST,
                 val2 NULLS FIRST""")),

    // ---- clientpositive/join40.q: six selects — outer join to a filtered
    //      subquery (plain + MAPJOIN), a plain equi self-join, the 3-way
    //      inner+RIGHT OUTER chains with ON-clause filters (ANSI leg of the
    //      q224/q390 semantics), and a join COUNT. The .q's SORT BY is
    //      superseded by the readback's total ORDER BY; hive.join.cache
    //      .size=1 is a buffering knob with no result effect
    QueryDef(
      "q415_qf_join40",
      (s, dir) => {
        fixtures(s, dir)
        val chain3 = """FROM src src1 JOIN src src2
            ON (src1.key = src2.key AND src1.key < 10)
            RIGHT OUTER JOIN src src3 ON (src1.key = src3.key AND src3.key < 20)"""
        val chain4 = """FROM src src1 JOIN src src2
            ON (src1.key = src2.key AND src1.key < 10 AND src2.key < 15)
            RIGHT OUTER JOIN src src3 ON (src1.key = src3.key AND src3.key < 20)"""
        HiveQl.sql(s,
          s"""SELECT 1 AS jt, x.key AS c1, x.value AS c2, y.key AS c3, y.value AS c4, '' AS c5, '' AS c6
              FROM src x left outer JOIN (select * from src where key <= 100) y ON (x.key = y.key)
              UNION ALL
              SELECT 2 AS jt, src1.key AS c1, src2.value AS c2, '' AS c3, '' AS c4, '' AS c5, '' AS c6
              FROM src src1 JOIN src src2 ON (src1.key = src2.key)
              UNION ALL
              SELECT 3 AS jt, src1.key AS c1, src1.value AS c2, src2.key AS c3, src2.value AS c4, src3.key AS c5, src3.value AS c6
              $chain3
              UNION ALL
              SELECT 4 AS jt, src1.key AS c1, src1.value AS c2, src2.key AS c3, src2.value AS c4, src3.key AS c5, src3.value AS c6
              $chain4
              UNION ALL
              SELECT /*+ MAPJOIN(y) */ 5 AS jt, x.key AS c1, x.value AS c2, y.key AS c3, y.value AS c4, '' AS c5, '' AS c6
              FROM src x left outer JOIN (select * from src where key <= 100) y ON (x.key = y.key)
              UNION ALL
              SELECT 6 AS jt, CAST(c AS STRING) AS c1, '' AS c2, '' AS c3, '' AS c4, '' AS c5, '' AS c6
              FROM (SELECT COUNT(1) AS c FROM SRC A JOIN SRC B ON (A.KEY = B.KEY)) t
              ORDER BY jt, c1, c2, c3, c4, c5, c6""")
      },
      Some {
        val outerLeg = """SELECT x.key AS c1, x.value AS c2, y.key AS c3,
               y.value AS c4, '' AS c5, '' AS c6
            FROM src x LEFT OUTER JOIN
              (SELECT * FROM src WHERE TRY_CAST(key AS DOUBLE) <= 100) y
            ON x.key = y.key"""
        def chain(extra: String) = s"""SELECT src1.key AS c1, src1.value AS c2, src2.key AS c3,
               src2.value AS c4, src3.key AS c5, src3.value AS c6
            FROM src src1 JOIN src src2
              ON src1.key = src2.key AND TRY_CAST(src1.key AS DOUBLE) < 10 $extra
            RIGHT OUTER JOIN src src3
              ON src1.key = src3.key AND TRY_CAST(src3.key AS DOUBLE) < 20"""
        s"""$SrcCte
           SELECT jt, c1, c2, c3, c4, c5, c6 FROM (
             SELECT 1 AS jt, * FROM ($outerLeg) l1
             UNION ALL
             SELECT 2 AS jt, src1.key AS c1, src2.value AS c2, '' AS c3,
                    '' AS c4, '' AS c5, '' AS c6
             FROM src src1 JOIN src src2 ON src1.key = src2.key
             UNION ALL
             SELECT 3 AS jt, * FROM (${chain("")}) l3
             UNION ALL
             SELECT 4 AS jt, * FROM (${chain("AND TRY_CAST(src2.key AS DOUBLE) < 15")}) l4
             UNION ALL
             SELECT 5 AS jt, * FROM ($outerLeg) l5
             UNION ALL
             SELECT 6 AS jt, CAST(c AS VARCHAR) AS c1, '' AS c2, '' AS c3,
                    '' AS c4, '' AS c5, '' AS c6
             FROM (SELECT count(*) AS c FROM src a JOIN src b ON a.key = b.key) t
           ) u ORDER BY jt, c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
                        c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST"""
      }),

    // ---- contrib clientpositive/serde_regex.q: the contrib RegexSerDe as
    //      a ROW FORMAT SERDE table surface (sources.HiveRegexSource) over
    //      the reference's own apache.access.log fixtures — optional
    //      trailing capture groups read NULL on the short-form line; the
    //      oracle is the two goldens transcribed (ORDER BY time)
    QueryDef(
      "q417_qf_serde_regex",
      (s, dir) => {
        val t = s"serde_regex_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "CREATE TABLE " + t + """(
            host STRING,
            identity STRING,
            user STRING,
            time STRING,
            request STRING,
            status STRING,
            size STRING,
            referer STRING,
            agent STRING)
          ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.RegexSerDe'
          WITH SERDEPROPERTIES (
            "input.regex" = "([^ ]*) ([^ ]*) ([^ ]*) (-|\\[[^\\]]*\\]) ([^ \"]*|\"[^\"]*\") (-|[0-9]*) (-|[0-9]*)(?: ([^ \"]*|\"[^\"]*\") ([^ \"]*|\"[^\"]*\"))?",
            "output.format.string" = "%1$s %2$s %3$s %4$s %5$s %6$s %7$s %8$s %9$s"
          )
          STORED AS TEXTFILE""")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/apache.access.log' INTO TABLE " + t)
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/apache.access.2.log' INTO TABLE " + t)
        HiveQl.sql(s, "SELECT host, identity, user, time, request, status, " +
          "size, referer, agent FROM " + t + " ORDER BY time")
      },
      Some {
        val agent = "\"Mozilla/5.0 (Windows; U; Windows NT 6.0; en-US) " +
          "AppleWebKit/525.19 (KHTML, like Gecko) Chrome/1.0.154.65 Safari/525.19\""
        s"""SELECT * FROM (VALUES
             ('127.0.0.1', '-', 'frank', '[10/Oct/2000:13:55:36 -0700]',
              '"GET /apache_pb.gif HTTP/1.0"', '200', '2326',
              CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
             ('127.0.0.1', '-', '-', '[26/May/2009:00:00:00 +0000]',
              '"GET /someurl/?track=Blabla(Main) HTTP/1.1"', '200', '5864',
              '-', '$agent')
           ) v(host, identity, user, time, request, status, size, referer, agent)
           ORDER BY time"""
      }),

    // ---- clientpositive/join19.q: the 6-way semantic-web triple-store
    //      self-join. The .q is EXPLAIN-only (it loads no data); to make
    //      the chain a real result test we seed one citation→author→doc
    //      chain per nation row and expect exactly one output row each —
    //      the oracle rebuilds the same triples and runs the same join
    QueryDef(
      "q416_qf_join19",
      (s, dir) => {
        val t = s"triples_${fixtures(s, dir)}"
        fresh(s, t)
        val pInst = "http://sofa.semanticweb.org/sofa/v1.0/system#__INSTANCEOF_REL"
        val pLabel = "http://sofa.semanticweb.org/sofa/v1.0/system#__LABEL_REL"
        val pFrom = "http://www.ontosearch.com/2007/12/ontosofa-ns#_from"
        val pTo = "http://www.ontosearch.com/2007/12/ontosofa-ns#_to"
        val oCit = "http://ontos/OntosMiner/Common.English/ontology#Citation"
        val oAuth = "http://ontos/OntosMiner/Common.English/ontology#Author"
        HiveQl.sql(s, s"CREATE TABLE $t (foo string, subject string, predicate string, object string, foo2 string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
              SELECT 'f', concat('cit_', n_nationkey), '$pInst', '$oCit', 'g' FROM graft_qf_nation
              UNION ALL SELECT 'f', concat('cit_', n_nationkey), '$pLabel', concat('clabel_', n_nationkey), 'g' FROM graft_qf_nation
              UNION ALL SELECT 'f', concat('a_', n_nationkey), '$pFrom', concat('cit_', n_nationkey), 'g' FROM graft_qf_nation
              UNION ALL SELECT 'f', concat('a_', n_nationkey), '$pInst', '$oAuth', 'g' FROM graft_qf_nation
              UNION ALL SELECT 'f', concat('a_', n_nationkey), '$pTo', concat('doc_', n_nationkey), 'g' FROM graft_qf_nation
              UNION ALL SELECT 'f', concat('doc_', n_nationkey), '$pLabel', concat('dlabel_', n_nationkey), 'g' FROM graft_qf_nation""")
        def sixWay(tbl: String) =
          s"""SELECT t11.subject AS s1, t22.object AS o1, t33.subject AS s2,
                     t55.object AS o2, t66.object AS o3
              FROM
              (SELECT t1.subject FROM $tbl t1 WHERE
                 t1.predicate='$pInst' AND t1.object='$oCit') t11
              JOIN
              (SELECT t2.subject, t2.object FROM $tbl t2 WHERE
                 t2.predicate='$pLabel') t22
              ON (t11.subject=t22.subject)
              JOIN
              (SELECT t3.subject, t3.object FROM $tbl t3 WHERE
                 t3.predicate='$pFrom') t33
              ON (t11.subject=t33.object)
              JOIN
              (SELECT t4.subject FROM $tbl t4 WHERE
                 t4.predicate='$pInst' AND t4.object='$oAuth') t44
              ON (t44.subject=t33.subject)
              JOIN
              (SELECT t5.subject, t5.object FROM $tbl t5 WHERE
                 t5.predicate='$pTo') t55
              ON (t55.subject=t44.subject)
              JOIN
              (SELECT t6.subject, t6.object FROM $tbl t6 WHERE
                 t6.predicate='$pLabel') t66
              ON (t66.subject=t55.object)"""
        HiveQl.sql(s, sixWay(t) + "\nORDER BY s1, o1, s2, o2, o3")
      },
      Some {
        val pInst = "http://sofa.semanticweb.org/sofa/v1.0/system#__INSTANCEOF_REL"
        val pLabel = "http://sofa.semanticweb.org/sofa/v1.0/system#__LABEL_REL"
        val pFrom = "http://www.ontosearch.com/2007/12/ontosofa-ns#_from"
        val pTo = "http://www.ontosearch.com/2007/12/ontosofa-ns#_to"
        val oCit = "http://ontos/OntosMiner/Common.English/ontology#Citation"
        val oAuth = "http://ontos/OntosMiner/Common.English/ontology#Author"
        s"""WITH triples(subject, predicate, object) AS (
              SELECT 'cit_' || n_nationkey, '$pInst', '$oCit' FROM nation
              UNION ALL SELECT 'cit_' || n_nationkey, '$pLabel', 'clabel_' || n_nationkey FROM nation
              UNION ALL SELECT 'a_' || n_nationkey, '$pFrom', 'cit_' || n_nationkey FROM nation
              UNION ALL SELECT 'a_' || n_nationkey, '$pInst', '$oAuth' FROM nation
              UNION ALL SELECT 'a_' || n_nationkey, '$pTo', 'doc_' || n_nationkey FROM nation
              UNION ALL SELECT 'doc_' || n_nationkey, '$pLabel', 'dlabel_' || n_nationkey FROM nation)
            SELECT t11.subject AS s1, t22.object AS o1, t33.subject AS s2,
                   t55.object AS o2, t66.object AS o3
            FROM
            (SELECT subject FROM triples WHERE predicate='$pInst' AND object='$oCit') t11
            JOIN (SELECT subject, object FROM triples WHERE predicate='$pLabel') t22
              ON t11.subject=t22.subject
            JOIN (SELECT subject, object FROM triples WHERE predicate='$pFrom') t33
              ON t11.subject=t33.object
            JOIN (SELECT subject FROM triples WHERE predicate='$pInst' AND object='$oAuth') t44
              ON t44.subject=t33.subject
            JOIN (SELECT subject, object FROM triples WHERE predicate='$pTo') t55
              ON t55.subject=t44.subject
            JOIN (SELECT subject, object FROM triples WHERE predicate='$pLabel') t66
              ON t66.subject=t55.object
            ORDER BY s1, o1, s2, o2, o3"""
      })
  )
}
