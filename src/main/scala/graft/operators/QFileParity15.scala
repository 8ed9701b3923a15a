package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 15 (round 13): the stats family (stats0–7)
  * — hive.stats.autogather INSERT-time statistics and ANALYZE ... COMPUTE
  * STATISTICS (full, partial-spec, and dynamic-spec), surfaced as Hive's
  * numRows/numFiles/totalSize parameters (StatsTask.java:56) plus Spark
  * catalog stats. numRows is oracle-pinned exactly; file counts and byte
  * sizes are layout-dependent (Spark task parallelism decides file counts)
  * so the facts pin their POSITIVITY, not the reference's exact layout.
  */
object QFileParity15 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, Src1Cte, RefData, tblStats, partStats, dump}
  import QFileParity.Pairs.{facts, ordered}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/stats0.q: autogather on plain INSERT — the
    //      non-partitioned table and the static-partition table both
    //      publish numRows without an ANALYZE
    QueryDef(
      "q651_qf_stats0",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (np, pt) = (s"stats_nonpart_$sfx", s"stats_part_$sfx")
        fresh(s, np, pt)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        HiveQl.sql(s, s"CREATE TABLE $np (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $np select * from src")
        HiveQl.sql(s, s"insert overwrite table $np select * from src")
        val f0 = tblStats(s, 0, np)
        val d1 = dump(HiveQl.sql(s, s"select * from $np"), 1, "key", "value")
        HiveQl.sql(s, s"CREATE TABLE $pt(key string, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"insert overwrite table $pt partition (ds='1') select * from src")
        HiveQl.sql(s, s"insert overwrite table $pt partition (ds='1') select * from src")
        val f2 = partStats(s, 2, pt)
        val f3 = tblStats(s, 3, pt)
        val d4 = dump(HiveQl.sql(s, s"select * from $pt where ds is not null"),
          4, "key", "value")
        ordered(Seq(f0, d1, f2, f3, d4))
      },
      Some(s"""$SrcCte,
          legs AS (
            SELECT 0 AS sec, 'tbl:numRows' AS c1, '500' AS c2
            UNION ALL SELECT 0, 'tbl:hasFiles', 'true'
            UNION ALL SELECT 0, 'tbl:hasBytes', 'true'
            UNION ALL SELECT 1, key, value FROM src
            UNION ALL SELECT 2, 'part:ds=1', '500'
            UNION ALL SELECT 3, 'tbl:numRows', '500'
            UNION ALL SELECT 3, 'tbl:hasFiles', 'true'
            UNION ALL SELECT 3, 'tbl:hasBytes', 'true'
            UNION ALL SELECT 4, key, value FROM src)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats1.q: autogather through a UNION ALL insert
    //      (an aggregate leg + a table leg)
    QueryDef(
      "q652_qf_stats1",
      (s, dir) => {
        val t = s"stats1_tmp_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        HiveQl.sql(s, s"create table $t(key string, value string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
            SELECT unionsrc.key, unionsrc.value
            FROM (SELECT 'tst1' AS key, cast(count(1) AS string) AS value FROM src s1
                  UNION ALL
                  SELECT s2.key AS key, s2.value AS value FROM src1 s2) unionsrc""")
        val d0 = dump(HiveQl.sql(s, s"SELECT * FROM $t x SORT BY x.key, x.value"),
          0, "key", "value")
        ordered(Seq(d0, tblStats(s, 1, t)))
      },
      Some(s"""$Src1Cte,
          u AS (SELECT 'tst1' AS key, CAST((SELECT count(*) FROM src) AS VARCHAR) AS value
                UNION ALL SELECT key, value FROM src1),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM u
            UNION ALL SELECT 1, 'tbl:numRows', CAST((SELECT count(*) FROM u) AS VARCHAR)
            UNION ALL SELECT 1, 'tbl:hasFiles', 'true'
            UNION ALL SELECT 1, 'tbl:hasBytes', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats2.q: no stats before ANALYZE, per-partition
    //      stats after a fully-dynamic ANALYZE PARTITION (ds, hr)
    QueryDef(
      "q653_qf_stats2",
      (s, dir) => {
        val t = s"analyze_t1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds, hr) " +
          "select * from srcpart where ds is not null")
        val before = tblStats(s, 0, t) // autogather unset: no numRows
        HiveQl.sql(s, s"analyze table $t partition (ds, hr) compute statistics")
        ordered(Seq(before, partStats(s, 1, t), tblStats(s, 2, t)))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'tbl:numRows', '<none>'), (0, 'tbl:hasFiles', 'false'),
          (0, 'tbl:hasBytes', 'false'),
          (1, 'part:ds=2008-04-08/hr=11', '500'),
          (1, 'part:ds=2008-04-08/hr=12', '500'),
          (1, 'part:ds=2008-04-09/hr=11', '500'),
          (1, 'part:ds=2008-04-09/hr=12', '500'),
          (2, 'tbl:numRows', '2000'), (2, 'tbl:hasFiles', 'true'),
          (2, 'tbl:hasBytes', 'true')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats3.q: mixed-case partition KEY spellings
    //      resolve to one partition; partition VALUES stay case-sensitive
    QueryDef(
      "q654_qf_stats3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (src, dst) = (s"hive_test_src_$sfx", s"hive_test_dst_$sfx")
        fresh(s, src, dst)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        HiveQl.sql(s, s"create table $src ( col1 string ) stored as textfile")
        HiveQl.sql(s, s"load data local inpath '$RefData/test.dat' " +
          s"overwrite into table $src")
        HiveQl.sql(s, s"create table $dst ( col1 string ) " +
          "partitioned by ( pcol1 string , pcol2 string) stored as sequencefile")
        HiveQl.sql(s, s"insert overwrite table $dst partition " +
          s"( pcol1='test_part', pCol2='test_Part') select col1 from $src")
        val d0 = dump(HiveQl.sql(s,
          s"select col1, pcol2 from $dst where pcol1='test_part' and pcol2='test_Part'"),
          0, "col1", "pcol2")
        val c1 = facts(s, 1, Seq("count" ->
          HiveQl.sql(s, s"select count(1) from $dst").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"insert overwrite table $dst partition " +
          s"( pCol1='test_part', pcol2='test_Part') select col1 from $src")
        // partition VALUES are case-sensitive: 'test_part' ≠ 'test_Part'
        val c2 = facts(s, 2, Seq("lowercase_val_rows" ->
          HiveQl.sql(s, s"select count(1) from $dst " +
            "where pcol1='test_part' and pcol2='test_part'").collect()(0).getLong(0).toString))
        val c3 = facts(s, 3, Seq("upper_key_rows" ->
          HiveQl.sql(s, s"select count(1) from $dst where pcol1='test_Part'")
            .collect()(0).getLong(0).toString))
        ordered(Seq(d0, c1, c2, c3, partStats(s, 4, dst)))
      },
      Some("""SELECT * FROM (
          SELECT 0 AS sec, CAST(x AS VARCHAR) AS c1, 'test_Part' AS c2
          FROM unnest([1,2,3,4,5,6]) t(x)
          UNION ALL SELECT 1, 'count', '6'
          UNION ALL SELECT 2, 'lowercase_val_rows', '0'
          UNION ALL SELECT 3, 'upper_key_rows', '0'
          UNION ALL SELECT 4, 'part:pcol1=test_part/pcol2=test_Part', '6')
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats4.q: multi-insert with one fully-dynamic and
    //      one half-static dynamic partition target, autogather on both
    QueryDef(
      "q655_qf_stats4",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (p1, p2) = (s"nzhang_part1_$sfx", s"nzhang_part2_$sfx")
        fresh(s, p1, p2)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        for (t <- Seq(p1, p2))
          HiveQl.sql(s, s"create table if not exists $t (key string, value string) " +
            "partitioned by (ds string, hr string)")
        HiveQl.sql(s,
          s"""from srcpart
            insert overwrite table $p1 partition (ds, hr)
              select key, value, ds, hr where ds <= '2008-04-08'
            insert overwrite table $p2 partition(ds='2008-12-31', hr)
              select key, value, hr where ds > '2008-04-08'""")
        val parts1 = facts(s, 0, Seq("parts1" ->
          s.sessionState.catalog.listPartitions(
            s.sessionState.sqlParser.parseTableIdentifier(p1)).size.toString))
        ordered(Seq(parts1, partStats(s, 1, p1), partStats(s, 2, p2),
          tblStats(s, 3, p1), tblStats(s, 4, p2)))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'parts1', '2'),
          (1, 'part:ds=2008-04-08/hr=11', '500'),
          (1, 'part:ds=2008-04-08/hr=12', '500'),
          (2, 'part:ds=2008-12-31/hr=11', '500'),
          (2, 'part:ds=2008-12-31/hr=12', '500'),
          (3, 'tbl:numRows', '1000'), (3, 'tbl:hasFiles', 'true'),
          (3, 'tbl:hasBytes', 'true'),
          (4, 'tbl:numRows', '1000'), (4, 'tbl:hasFiles', 'true'),
          (4, 'tbl:hasBytes', 'true')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats5.q: ANALYZE on an unpartitioned CTAS table
    QueryDef(
      "q656_qf_stats5",
      (s, dir) => {
        val t = s"analyze_src_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t as select * from src")
        HiveQl.sql(s, s"analyze table $t compute statistics")
        ordered(Seq(tblStats(s, 0, t)))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'tbl:numRows', '500'), (0, 'tbl:hasFiles', 'true'),
          (0, 'tbl:hasBytes', 'true')) v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats6.q: ANALYZE two FULL partition specs — the
    //      other two partitions stay stat-less
    QueryDef(
      "q657_qf_stats6",
      (s, dir) => {
        val t = s"analyze_srcpart6_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds, hr) " +
          "select * from srcpart where ds is not null")
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr=11) compute statistics")
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr=12) compute statistics")
        partStats(s, 0, t)
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2008-04-08/hr=11', '500'),
          (0, 'part:ds=2008-04-08/hr=12', '500'),
          (0, 'part:ds=2008-04-09/hr=11', '<none>'),
          (0, 'part:ds=2008-04-09/hr=12', '<none>')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats7.q: ANALYZE a PARTIAL spec (ds fixed, hr
    //      dynamic) — both hr completions of that ds get stats
    QueryDef(
      "q658_qf_stats7",
      (s, dir) => {
        val t = s"analyze_srcpart7_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds, hr) " +
          "select * from srcpart where ds is not null")
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr) compute statistics")
        partStats(s, 0, t)
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2008-04-08/hr=11', '500'),
          (0, 'part:ds=2008-04-08/hr=12', '500'),
          (0, 'part:ds=2008-04-09/hr=11', '<none>'),
          (0, 'part:ds=2008-04-09/hr=12', '<none>')) v(sec, c1, c2)
          ORDER BY sec, c1, c2"""))
  )
}
