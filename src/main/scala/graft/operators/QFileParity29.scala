package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 29 (round 15): bucket_groupby +
  * reduce_deduplicate (the VERDICT r14 stretch pair), smb_mapjoin9,
  * CLUSTER BY select shapes, regex column names, the NaN/typed-constant
  * comparison batteries, and multi-insert group-by families.
  */
object QFileParity29 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, leg, legSql, jh}
  import QFileParity.Lines.{facts, ordered}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/bucket_groupby.q: group-bys over a partitioned
    //      table repeatedly RE-CLUSTERED while populated (the engine
    //      demotes the live spec to properties each time) — every variant
    //      must return identical grouped rows; the .q's LIMIT 10 queries
    //      get row-count facts (LIMIT-class)
    QueryDef(
      "q835_qf_bucket_groupby",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"clustergroupby_q835_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) partitioned by(ds string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='100') " +
          "select key, value from src sort by key")
        def gb(sec: Int, sql: String) =
          leg(sec, HiveQl.sql(s, sql)).localCheckpoint(true)
        def lim(sec: Int, sql: String) = facts(s, sec, Seq("limit10_rows" ->
          HiveQl.sql(s, sql).count().toString))
        val l0 = gb(0, s"select key, count(1) from $t where ds='100' group by key")
        val f0 = lim(100, s"select key, count(1) from $t where ds='100' group by key limit 10")
        HiveQl.sql(s, s"alter table $t clustered by (key) into 1 buckets")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='101') " +
          "select key, value from src distribute by key")
        val l1 = gb(1, s"select key, count(1) from $t where ds='101' group by key")
        val l2 = gb(2, s"select length(key), count(1) from $t where ds='101' group by length(key)")
        val l3 = gb(3, s"select abs(length(key)), count(1) from $t where ds='101' group by abs(length(key))")
        // Hive 0.8 has no GROUP BY ordinals: `key, 3` groups by a CONSTANT
        HiveQl.sql(s, "set spark.sql.groupByOrdinal=false")
        val l4 = gb(4, s"select key, count(1) from $t where ds='101' group by key,3")
        HiveQl.sql(s, "set spark.sql.groupByOrdinal=true")
        val l5 = gb(5, "select key, count(1) from (select value as key, key as value " +
          s"from $t where ds='101')subq group by key")
        val l6 = gb(6, s"select key, count(1) from $t group by key")
        HiveQl.sql(s, s"alter table $t clustered by (value) sorted by (key, value) into 1 buckets")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='102') " +
          "select key, value from src distribute by value sort by key, value")
        val l7 = gb(7, s"select key, count(1) from $t where ds='102' group by key")
        val l8 = gb(8, s"select value, count(1) from $t where ds='102' group by value")
        val l9 = gb(9, s"select key, count(1) from $t where ds='102' group by key, value")
        HiveQl.sql(s, s"alter table $t clustered by (value, key) sorted by (key) into 1 buckets")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='103') " +
          "select key, value from src distribute by value, key sort by key")
        val l10 = gb(10, s"select key, count(1) from $t where ds='103' group by key")
        val l11 = gb(11, s"select key, count(1) from $t where ds='103' group by value, key")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(l0, f0, l1, l2, l3, l4, l5, l6, l7, l8, l9, l10, l11))
      },
      Some(s"""$SrcCte,
        gbk AS (SELECT key, count(1) AS c FROM src GROUP BY key),
        gbl AS (SELECT length(key) AS k, count(1) AS c FROM src GROUP BY 1),
        gbv AS (SELECT value, count(1) AS c FROM src GROUP BY value),
        legs AS (
          ${legSql(0, Seq("key", "c"), "FROM gbk")}
          UNION ALL SELECT 100, 'limit10_rows|10'
          UNION ALL ${legSql(1, Seq("key", "c"), "FROM gbk")}
          UNION ALL ${legSql(2, Seq("k", "c"), "FROM gbl")}
          UNION ALL ${legSql(3, Seq("k", "c"), "FROM gbl")}
          UNION ALL ${legSql(4, Seq("key", "c"), "FROM gbk")}
          UNION ALL ${legSql(5, Seq("value", "c"), "FROM gbv")}
          UNION ALL SELECT 6, concat_ws('|', key, CAST(c * 2 AS VARCHAR))
            FROM gbk -- two partitions (ds=100,101) exist at that point
          UNION ALL ${legSql(7, Seq("key", "c"), "FROM gbk")}
          UNION ALL ${legSql(8, Seq("value", "c"), "FROM gbv")}
          UNION ALL ${legSql(9, Seq("key", "c"), "FROM gbk")}
          UNION ALL ${legSql(10, Seq("key", "c"), "FROM gbk")}
          UNION ALL ${legSql(11, Seq("key", "c"), "FROM gbk")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/reduce_deduplicate.q: enforce-bucketed CLUSTER BY
    //      insert whose hash-sums must equal the source's, plus the nested
    //      TRANSFORM pipeline over an (empty-partition) complex table
    QueryDef(
      "q836_qf_reduce_deduplicate",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val b = s"bucket5_1_q836_$sfx"
        val c1 = s"complex_tbl_1_q836_$sfx"
        val c2 = s"complex_tbl_2_q836_$sfx"
        fresh(s, b, c1, c2)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $b(key string, value string) " +
          "CLUSTERED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $b select * from src cluster by key")
        val d0 = leg(0, HiveQl.sql(s,
          s"select sum(hash(key)) as hk, sum(hash(value)) as hv from $b"))
          .localCheckpoint(true)
        val d1 = leg(1, HiveQl.sql(s,
          "select sum(hash(key)) as hk, sum(hash(value)) as hv from src"))
          .localCheckpoint(true)
        HiveQl.sql(s, s"create table $c1(aid string, bid string, t int, ctime string, " +
          "etime bigint, l string, et string) partitioned by (ds string)")
        HiveQl.sql(s, s"create table $c2(aet string, aes string) partitioned by (ds string)")
        HiveQl.sql(s, s"""insert overwrite table $c1 partition (ds='2010-03-29')
          select s2.* from
          (
           select TRANSFORM (aid,bid,t,ctime,etime,l,et)
           USING 'cat'
           AS (aid string, bid string, t int, ctime string, etime bigint, l string, et string)
           from
            (
             select transform(aet,aes)
             using 'cat'
             as (aid string, bid string, t int, ctime string, etime bigint, l string, et string)
             from $c2 where ds ='2010-03-29' cluster by bid
          )s
          )s2""")
        val f2 = facts(s, 2, Seq("complex_rows" ->
          HiveQl.sql(s, s"select count(1) from $c1").collect()(0).getLong(0).toString))
        Seq(b, c1, c2).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(d0, d1, f2))
      },
      Some(s"""$SrcCte,
        hs AS (SELECT CAST(sum(${jh("key")}) AS VARCHAR) || '|' ||
                      CAST(sum(${jh("value")}) AS VARCHAR) AS c1 FROM src),
        legs AS (SELECT 0 AS sec, c1 FROM hs
          UNION ALL SELECT 1, c1 FROM hs
          UNION ALL SELECT 2, 'complex_rows|0')
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/smb_mapjoin9.q: sort-merge-bucket CTAS over two
    //      partitioned sorted-bucketed tables built by enforce inserts
    QueryDef(
      "q837_qf_smb_mapjoin9",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"smb9_b1_q837_$sfx"
        val t2 = s"smb9_b2_q837_$sfx"
        val r = s"smb_mapjoin9_results_q837_$sfx"
        fresh(s, t1, t2, r)
        for (t <- Seq(t1, t2))
          HiveQl.sql(s, s"create table $t (key int, value string) partitioned by (ds string) " +
            "clustered by (key) sorted by (key) into 2 buckets")
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        for (t <- Seq(t1, t2))
          HiveQl.sql(s, s"insert overwrite table $t partition (ds='2010-10-15') " +
            "select key, value from src")
        HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
        HiveQl.sql(s, "set hive.optimize.bucketmapjoin.sortedmerge = true")
        HiveQl.sql(s, s"""create table $r as
          SELECT /* + MAPJOIN(b) */ b.key as k1, b.value, b.ds, a.key as k2
          FROM $t1 a JOIN $t2 b
          ON a.key = b.key WHERE a.ds = '2010-10-15' and b.ds='2010-10-15' and b.key IS NOT NULL""")
        val d = leg(0, HiveQl.sql(s, s"select * from $r")).localCheckpoint(true)
        Seq(t1, t2, r).foreach(t => HiveQl.sql(s, s"drop table $t"))
        d.orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, k AS (SELECT CAST(key AS INT) AS key, value FROM src),
        legs AS (${legSql(0, Seq("b.key", "b.value", "'2010-10-15'", "a.key"),
          "FROM k a JOIN k b ON a.key = b.key")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/cluster.q: every CLUSTER BY select shape —
    //      qualified/bare/aliased keys, subqueries, joins
    QueryDef(
      "q838_qf_cluster",
      (s, dir) => {
        fixtures(s, dir)
        def q(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql))
        ordered(Seq(
          q(0, "SELECT * FROM SRC x where x.key = 10 CLUSTER BY x.key"),
          q(1, "SELECT * FROM SRC x where x.key = 20 CLUSTER BY key"),
          q(2, "SELECT x.* FROM SRC x where x.key = 20 CLUSTER BY key"),
          q(3, "SELECT x.* FROM SRC x where x.key = 20 CLUSTER BY x.key"),
          q(4, "SELECT x.key, x.value as v1 FROM SRC x where x.key = 20 CLUSTER BY key"),
          q(5, "SELECT x.key, x.value as v1 FROM SRC x where x.key = 20 CLUSTER BY x.key"),
          q(6, "SELECT x.key, x.value as v1 FROM SRC x where x.key = 20 CLUSTER BY v1"),
          q(7, "SELECT y.* from (SELECT x.* FROM SRC x CLUSTER BY x.key) y where y.key = 20"),
          q(8, "SELECT x.key, x.value as v1, y.key FROM SRC x JOIN SRC y ON (x.key = y.key) where x.key = 20 CLUSTER BY v1"),
          q(9, "SELECT x.key, x.value as v1, y.* FROM SRC x JOIN SRC y ON (x.key = y.key) where x.key = 20 CLUSTER BY v1")))
      },
      // src keys are quadratic residues: 10 and 20 are NOT in the key
      // space, so every leg is EMPTY — the shapes must still all plan
      Some("SELECT 0 AS sec, 'x' AS c1 WHERE false")),

    // ---- clientpositive/regex_col.q: backquoted regex column names
    QueryDef(
      "q839_qf_regex_col",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set spark.sql.parser.quotedRegexColumnNames=true")
        val d0 = leg(0, HiveQl.sql(s,
          """SELECT b.`..` FROM srcpart a JOIN srcpart b
             ON a.key = b.key AND a.hr = b.hr AND a.ds = b.ds AND a.key = 103
             ORDER BY ds, hr""")).localCheckpoint(true)
        val d1 = leg(1, HiveQl.sql(s,
          "SELECT `(ds|hr)?+.+` FROM srcpart ORDER BY key, value LIMIT 10"))
          .localCheckpoint(true)
        HiveQl.sql(s, "set spark.sql.parser.quotedRegexColumnNames=false")
        d0.union(d1).orderBy("sec", "c1")
      },
      // 103 is not a quadratic residue -> the join leg is empty; the
      // regex projection drops ds/hr, and the first 10 by (key, value)
      // are the ten copies of key 0
      Some("""SELECT * FROM (VALUES (1, '0|val_0'), (1, '0|val_0'),
        (1, '0|val_0'), (1, '0|val_0'), (1, '0|val_0'), (1, '0|val_0'),
        (1, '0|val_0'), (1, '0|val_0'), (1, '0|val_0'), (1, '0|val_0'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/ops_comparison.q: NaN-vs-number and NaN-vs-NaN
    //      ordering through the string->double comparison coercion (Hive
    //      compares via Double.compare: NaN above everything, NaN=NaN)
    QueryDef(
      "q840_qf_ops_comparison",
      (s, dir) => {
        fixtures(s, dir)
        val exprs = Seq(
          "1.0 < 2.0", "2.0 < 2.0", "2.0 > 1.0", "2.0 > 2.0",
          "'NaN' < 2.0", "1.0 < 'NaN'", "1.0 > 'NaN'", "'NaN' > 2.0",
          "'NaN' > 'NaN'", "'NaN' < 'NaN'",
          "'NaN' = 2.0", "1.0 = 'NaN'", "'NaN' = 2.0", "'NaN' = 'NaN'",
          "'NaN' <> 2.0", "1.0 <> 'NaN'", "'NaN' <> 2.0", "'NaN' <> 'NaN'")
        val legs = exprs.zipWithIndex.map { case (e, i) =>
          leg(i, HiveQl.sql(s, s"select $e from src limit 1"))
        }
        ordered(legs)
      },
      Some {
        val golden = Seq("true", "false", "true", "false", "false", "true",
          "false", "true", "false", "false", "false", "false", "false",
          "true", "true", "true", "true", "false")
        val rows = golden.zipWithIndex.map { case (v, i) => s"($i, '$v')" }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) v(sec, c1) ORDER BY sec, c1"
      }),

    // ---- clientpositive/type_cast_1.q + clientpositive/num_op_type_conv.q: typed
    //      constant arithmetic and null propagation
    QueryDef(
      "q841_qf_type_cast_1",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          "SELECT IF(false, 1, cast(2 as smallint)) + 3 FROM src LIMIT 1"))
          .orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, '5' AS c1")),

    QueryDef(
      "q842_qf_num_op_type_conv",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          """SELECT null + 7, 1.0 - null, null + null,
               CAST(21 AS BIGINT) % CAST(5 AS TINYINT),
               CAST(21 AS BIGINT) % CAST(21 AS BIGINT),
               9 % "3" FROM src LIMIT 1""")).orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, 'NULL|NULL|NULL|1|0|0.0' AS c1")),

    // ---- clientpositive/notable_alias2.q: a constant first column with a
    //      grouped aggregate through a FROM-first insert
    QueryDef(
      "q843_qf_notable_alias2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val d = s"dest1_q843_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(dummy STRING, key INT, value DOUBLE) STORED AS TEXTFILE")
        HiveQl.sql(s, s"""FROM src
          INSERT OVERWRITE TABLE $d SELECT '1234', src.key, count(1) WHERE key < 100 group by src.key""")
        val out = leg(0, HiveQl.sql(s, s"SELECT $d.* FROM $d")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $d")
        out.orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (${legSql(0,
        Seq("'1234'", "CAST(key AS INT)", "CAST(count(1) AS DOUBLE)"),
        "FROM src WHERE CAST(key AS DOUBLE) < 100 GROUP BY key")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/nullgroup4_multi_distinct.q: multi count-distinct
    //      over an EMPTY filter under both map.aggr settings
    QueryDef(
      "q844_qf_nullgroup4_multi_distinct",
      (s, dir) => {
        fixtures(s, dir)
        def q(sec: Int) = leg(sec, HiveQl.sql(s,
          """select count(1), count(distinct x.value),
             count(distinct substr(x.value, 5)) from src x where x.key = 9999"""))
          .localCheckpoint(true)
        HiveQl.sql(s, "set hive.map.aggr=true")
        HiveQl.sql(s, "set hive.groupby.skewindata=false")
        val a = q(0)
        HiveQl.sql(s, "set hive.map.aggr=false")
        val b = q(1)
        ordered(Seq(a, b))
      },
      Some("""SELECT * FROM (VALUES (0, '0|0|0'), (1, '0|0|0')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/multigroupby_singlemr.q: multi-insert with a
    //      DIFFERENT group-by per branch (the single-MR optimization's
    //      target shape) — executed over a small populated TBL
    QueryDef(
      "q845_qf_multigroupby_singlemr",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tbl_q845_$sfx"
        val (d1, d2, d3, d4) = (s"dest1_q845_$sfx", s"dest2_q845_$sfx",
          s"dest3_q845_$sfx", s"dest4_q845_$sfx")
        fresh(s, t, d1, d2, d3, d4)
        HiveQl.sql(s, "set hive.multigroupby.singlemr=true")
        HiveQl.sql(s, s"CREATE TABLE $t(C1 INT, C2 INT, C3 INT, C4 INT)")
        HiveQl.sql(s, s"INSERT INTO $t VALUES (1,1,1,1), (1,2,2,2), (2,1,3,3), (2,1,3,4)")
        HiveQl.sql(s, s"CREATE TABLE $d1(d1 INT, d2 INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d2(d1 INT, d2 INT, d3 INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $d3(d1 INT, d2 INT, d3 INT, d4 INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"""FROM $t
          INSERT OVERWRITE TABLE $d3 SELECT $t.C1, $t.C2, $t.C3, COUNT($t.C4) GROUP BY $t.C1, $t.C2, $t.C3
          INSERT OVERWRITE TABLE $d2 SELECT $t.C1, $t.C2, COUNT($t.C3) GROUP BY $t.C1, $t.C2
          INSERT OVERWRITE TABLE $d1 SELECT $t.C1, COUNT($t.C2) GROUP BY $t.C1""")
        val out = ordered(Seq(
          leg(0, HiveQl.sql(s, s"select * from $d1")).localCheckpoint(true),
          leg(1, HiveQl.sql(s, s"select * from $d2")).localCheckpoint(true),
          leg(2, HiveQl.sql(s, s"select * from $d3")).localCheckpoint(true)))
        Seq(t, d1, d2, d3).foreach(x => HiveQl.sql(s, s"drop table $x"))
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, '1|2'), (0, '2|2'),
        (1, '1|1|1'), (1, '1|2|1'), (1, '2|1|2'),
        (2, '1|1|1|1'), (2, '1|2|2|1'), (2, '2|1|3|2')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/mi.q: dynamic-partition multi-insert where the
    //      trailing GROUP BY binds to ITS branch only
    QueryDef(
      "q846_qf_mi",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"nzhang_t1_q846_$sfx"
        val t2 = s"nzhang_t2_q846_$sfx"
        fresh(s, t1, t2)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        for (t <- Seq(t1, t2))
          HiveQl.sql(s, s"create table $t (key string, value string) " +
            "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"""FROM srcpart
          INSERT OVERWRITE TABLE $t1 PARTITION (ds, hr)
          SELECT key, value, ds, hr
          WHERE ds = '2008-04-08' AND hr = '11'
          INSERT OVERWRITE TABLE $t2 PARTITION (ds, hr)
          SELECT key, value, ds, hr
          WHERE ds = '2008-04-08' and hr = '12'
          GROUP BY key, value, ds, hr""")
        val p1 = facts(s, 0, HiveQl.sql(s, s"show partitions $t1").collect()
          .map(r => (r.getString(0), "present")).sorted)
        val p2 = facts(s, 1, HiveQl.sql(s, s"show partitions $t2").collect()
          .map(r => (r.getString(0), "present")).sorted)
        val d1 = leg(2, HiveQl.sql(s, s"select * from $t1")).localCheckpoint(true)
        val d2 = leg(3, HiveQl.sql(s, s"select * from $t2")).localCheckpoint(true)
        Seq(t1, t2).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(p1, p2, d1, d2))
      },
      Some(s"""$SrcPartCte, legs AS (
        SELECT 0 AS sec, 'ds=2008-04-08/hr=11|present' AS c1
        UNION ALL SELECT 1, 'ds=2008-04-08/hr=12|present'
        UNION ALL ${legSql(2, Seq("key", "value", "'2008-04-08'", "'11'"),
          "FROM src")}
        UNION ALL ${legSql(3, Seq("key", "value", "'2008-04-08'", "'12'"),
          "FROM (SELECT DISTINCT key, value FROM src) x")})
        SELECT * FROM legs ORDER BY sec, c1"""))
  )
}
