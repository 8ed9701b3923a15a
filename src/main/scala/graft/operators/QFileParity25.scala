package graft.operators

import org.apache.spark.sql.SparkSession
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 25 (round 14): the stats .q tail —
  * stats8–16 (ANALYZE over static/partial/dynamic partition specs,
  * autogather through bucketed writes and bucket-map-join inserts,
  * INSERT INTO accumulation) — and the ALTER TABLE ... CONCATENATE family
  * (alter_merge, alter_merge_stats, alter_concatenate_indexed_table) over
  * the new SHOW TABLE EXTENDED surface (file census before/after the
  * block merge, hive.exec.concatenate.check.index gate).
  *
  * Stats facts read the published Hive parameters (numRows/numFiles/
  * totalSize) from catalog metadata, the same observables the .q's
  * `describe extended` goldens carry; machine-dependent byte sizes pin as
  * booleans.
  */
object QFileParity25 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData, csv, dump, tblStats, partStats}
  import QFileParity.Pairs.{facts, ordered}

  /** `totalNumberFiles:` value from SHOW TABLE EXTENDED rows. */
  private def extFiles(s: SparkSession, t: String, spec: Option[String] = None): String =
    HiveQl.sql(s, s"show table extended like `$t`" +
        spec.map(sp => s" partition ($sp)").getOrElse(""))
      .collect().map(_.getString(0))
      .find(_.startsWith("totalNumberFiles:"))
      .map(_.stripPrefix("totalNumberFiles:")).getOrElse("<none>")

  /** Partitioned analyze_srcpart-shaped table: explicit 4-partition build
    * from the srcpart view (stats8/12/13's `create table like srcpart` +
    * dynamic insert). */
  private def analyzeSrcpart(s: SparkSession, qn: String, sfx: String): String = {
    val t = s"analyze_srcpart_${qn}_$sfx"
    fresh(s, t)
    HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
    HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
    HiveQl.sql(s, s"create table $t (key string, value string) " +
      "partitioned by (ds string, hr string)")
    HiveQl.sql(s, s"insert overwrite table $t partition (ds, hr) " +
      "select * from srcpart where ds is not null")
    t
  }

  /** RCFile table loaded from the three smbbucket_*.rc fixtures
    * (alter_merge family base). */
  private def rcMergeTable(s: SparkSession, t: String,
      part: Option[String]): Unit = {
    fresh(s, t)
    HiveQl.sql(s, s"create table $t(key int, value string)" +
      part.map(_ => " partitioned by (ds string)").getOrElse("") +
      " stored as rcfile")
    part.foreach(p => HiveQl.sql(s, s"alter table $t add partition (ds='$p')"))
    val dst = part.map(p => s"$t partition (ds='$p')").getOrElse(t)
    for (f <- Seq("smbbucket_1", "smbbucket_2", "smbbucket_3"))
      HiveQl.sql(s, s"load data local inpath '$RefData/$f.rc' into table $dst")
  }

  /** (count, sum(hash(key)), sum(hash(value))) fingerprint. */
  private def fingerprint(s: SparkSession, t: String): (Long, Long, Long) = {
    val r = HiveQl.sql(s,
      s"select count(1), sum(hash(key)), sum(hash(value)) from $t").collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/stats8.q: four static single-partition ANALYZEs,
    //      then the dynamic full-spec ANALYZE; table rollup appears once
    //      every partition carries stats
    QueryDef(
      "q786_qf_stats8",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        val t = analyzeSrcpart(s, "q786", sfx)
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr=11) compute statistics")
        val f0 = partStats(s, 0, t)
        for ((ds, hr) <- Seq(("2008-04-08", 12), ("2008-04-09", 11), ("2008-04-09", 12)))
          HiveQl.sql(s, s"analyze table $t PARTITION(ds='$ds',hr=$hr) compute statistics")
        val f1 = partStats(s, 1, t)
        val f2 = tblStats(s, 2, t)
        HiveQl.sql(s, s"analyze table $t PARTITION(ds, hr) compute statistics")
        val f3 = partStats(s, 3, t)
        val f4 = tblStats(s, 4, t)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1, f2, f3, f4))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2008-04-08/hr=11', '500'),
          (0, 'part:ds=2008-04-08/hr=12', '<none>'),
          (0, 'part:ds=2008-04-09/hr=11', '<none>'),
          (0, 'part:ds=2008-04-09/hr=12', '<none>'),
          (1, 'part:ds=2008-04-08/hr=11', '500'),
          (1, 'part:ds=2008-04-08/hr=12', '500'),
          (1, 'part:ds=2008-04-09/hr=11', '500'),
          (1, 'part:ds=2008-04-09/hr=12', '500'),
          (2, 'tbl:numRows', '2000'), (2, 'tbl:hasFiles', 'true'),
          (2, 'tbl:hasBytes', 'true'),
          (3, 'part:ds=2008-04-08/hr=11', '500'),
          (3, 'part:ds=2008-04-08/hr=12', '500'),
          (3, 'part:ds=2008-04-09/hr=11', '500'),
          (3, 'part:ds=2008-04-09/hr=12', '500'),
          (4, 'tbl:numRows', '2000'), (4, 'tbl:hasFiles', 'true'),
          (4, 'tbl:hasBytes', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats9.q: unpartitioned ANALYZE over the
    //      srcbucket-shaped 1000-row table
    QueryDef(
      "q787_qf_stats9",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        val t = s"analyze_srcbucket_q787_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key int, value string)")
        HiveQl.sql(s, s"CREATE TABLE IF NOT EXISTS srcb_load_q787_$sfx" +
          "(key int, value string) STORED AS TEXTFILE")
        for (f <- Seq("srcbucket0", "srcbucket1"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE srcb_load_q787_$sfx")
        HiveQl.sql(s, s"insert overwrite table $t select * from srcb_load_q787_$sfx")
        HiveQl.sql(s, s"analyze table $t compute statistics")
        val f0 = tblStats(s, 0, t)
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table srcb_load_q787_$sfx")
        ordered(Seq(f0))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'tbl:numRows', '1000'), (0, 'tbl:hasFiles', 'true'),
          (0, 'tbl:hasBytes', 'true')) v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats10.q: autogather + enforce.bucketing writes,
    //      a bucket sample over the engine-written layout, dynamic ANALYZE
    QueryDef(
      "q788_qf_stats10",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"bucket3_1_q788_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) " +
          "partitioned by (ds string) CLUSTERED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='1') select * from src")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='1') select * from src")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2') select * from src")
        val d0 = dump(HiveQl.sql(s,
          s"select * from $t tablesample (bucket 1 out of 2) s where ds = '1' order by key"),
          0, "key", "value")
        HiveQl.sql(s, s"analyze table $t partition (ds) compute statistics")
        val f1 = partStats(s, 1, t)
        val f2 = tblStats(s, 2, t)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(d0, f1, f2))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, CAST(CAST(key AS INT) AS VARCHAR) AS c1, value AS c2
          FROM src WHERE CAST(key AS INT) % 2 = 0
          UNION ALL SELECT 1, 'part:ds=1', '500'
          UNION ALL SELECT 1, 'part:ds=2', '500'
          UNION ALL SELECT 2, 'tbl:numRows', '1000'
          UNION ALL SELECT 2, 'tbl:hasFiles', 'true'
          UNION ALL SELECT 2, 'tbl:hasBytes', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats11.q: autogather through the bucket-map-join
    //      insert pair; hash fingerprints must agree across the
    //      bucketmapjoin on/off runs
    QueryDef(
      "q789_qf_stats11",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        val a = s"srcbkt_mj_q789_$sfx"
        val b = s"srcbkt_mj_part_q789_$sfx"
        val res = s"bmj_tmp_result_q789_$sfx"
        fresh(s, a, b, res)
        HiveQl.sql(s, s"CREATE TABLE $a(key int, value string) " +
          "CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket20", "srcbucket21"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $a")
        HiveQl.sql(s, s"CREATE TABLE $b(key int, value string) " +
          "partitioned by (ds string) CLUSTERED BY (key) INTO 4 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $b partition(ds='2008-04-08')")
        HiveQl.sql(s, s"create table $res (key string, value1 string, value2 string)")
        def insertRun(hint: String, bmj: Boolean): (Long, Long, Long) = {
          HiveQl.sql(s, s"set hive.optimize.bucketmapjoin = $bmj")
          HiveQl.sql(s,
            s"""insert overwrite table $res
                select /*+mapjoin($hint)*/ a.key, a.value, b.value
                from $a a join $b b on a.key=b.key where b.ds="2008-04-08"""")
          val r = HiveQl.sql(s, s"select count(1), sum(hash(key)), " +
            s"sum(hash(value1)) from $res").collect()(0)
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        val r1 = insertRun("b", bmj = true)
        val f0 = facts(s, 0, Seq("count_mapjoin_b" -> r1._1.toString))
        val f1 = tblStats(s, 1, res)
        val r2 = insertRun("b", bmj = false)
        val r3 = insertRun("a", bmj = true)
        val r4 = insertRun("a", bmj = false)
        val f2 = facts(s, 2, Seq(
          "counts_agree" -> (r1._1 == r2._1 && r2._1 == r3._1 && r3._1 == r4._1).toString,
          "hashes_agree" -> (r1 == r2 && r2 == r3 && r3 == r4).toString))
        for (t <- Seq(a, b, res)) HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1, f2))
      },
      Some(s"""WITH a AS (SELECT * FROM ${csv("srcbucket20")}
              UNION ALL SELECT * FROM ${csv("srcbucket21")}),
          b AS (SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}
              UNION ALL SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")}),
          j AS (SELECT a.key FROM a JOIN b ON a.key = b.key),
          legs AS (
            SELECT 0 AS sec, 'count_mapjoin_b' AS c1,
              CAST((SELECT count(*) FROM j) AS VARCHAR) AS c2
            UNION ALL SELECT 1, 'tbl:numRows', CAST((SELECT count(*) FROM j) AS VARCHAR)
            UNION ALL SELECT 1, 'tbl:hasFiles', 'true'
            UNION ALL SELECT 1, 'tbl:hasBytes', 'true'
            UNION ALL SELECT 2, 'counts_agree', 'true'
            UNION ALL SELECT 2, 'hashes_agree', 'true')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats12.q: PARTIAL static spec (ds fixed, hr
    //      dynamic) analyzes exactly the two matching partitions
    QueryDef(
      "q790_qf_stats12",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        val t = analyzeSrcpart(s, "q790", sfx)
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr) compute statistics")
        val f0 = partStats(s, 0, t)
        val f1 = tblStats(s, 1, t)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2008-04-08/hr=11', '500'),
          (0, 'part:ds=2008-04-08/hr=12', '500'),
          (0, 'part:ds=2008-04-09/hr=11', '<none>'),
          (0, 'part:ds=2008-04-09/hr=12', '<none>'),
          (1, 'tbl:numRows', '<none>'), (1, 'tbl:hasFiles', 'false'),
          (1, 'tbl:hasBytes', 'false'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats13.q: one static spec analyzed; a LIKE copy
    //      starts with no stats
    QueryDef(
      "q791_qf_stats13",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        val t = analyzeSrcpart(s, "q791", sfx)
        val t2 = s"analyze_srcpart2_q791_$sfx"
        fresh(s, t2)
        HiveQl.sql(s, s"analyze table $t PARTITION(ds='2008-04-08',hr=11) compute statistics")
        val f0 = partStats(s, 0, t)
        val f1 = tblStats(s, 1, t)
        HiveQl.sql(s, s"create table $t2 like $t")
        val f2 = tblStats(s, 2, t2)
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $t2")
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2008-04-08/hr=11', '500'),
          (0, 'part:ds=2008-04-08/hr=12', '<none>'),
          (0, 'part:ds=2008-04-09/hr=11', '<none>'),
          (0, 'part:ds=2008-04-09/hr=12', '<none>'),
          (1, 'tbl:numRows', '<none>'), (1, 'tbl:hasFiles', 'false'),
          (1, 'tbl:hasBytes', 'false'),
          (2, 'tbl:numRows', '<none>'), (2, 'tbl:hasFiles', 'false'),
          (2, 'tbl:hasBytes', 'false'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats14.q / stats15.q (same body; 15 adds
    //      hive.stats.collect.uncompressedsize=false): static analyzes, a
    //      third un-analyzed partition blocks the rollup, dynamic analyze
    //      completes it
    QueryDef(
      "q792_qf_stats14",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        // the .q runs under QTestUtil's default hive.stats.autogather=true
        // (stats14 sets nothing) — the hr=13 insert below gathers its own
        // partition stats, so the table rollup is 1500/3-partitions even
        // before the closing dynamic ANALYZE (stats14.q.out:179-180)
        HiveQl.sql(s, "set hive.stats.autogather=true")
        val src_t = s"stats_src_q792_$sfx"
        val part_t = s"stats_part_q792_$sfx"
        fresh(s, src_t, part_t)
        HiveQl.sql(s, s"create table $src_t (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $src_t select * from src")
        HiveQl.sql(s, s"analyze table $src_t compute statistics")
        val f0 = tblStats(s, 0, src_t)
        HiveQl.sql(s, s"create table $part_t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $part_t partition (ds='2010-04-08', hr = '11') " +
          "select key, value from src")
        HiveQl.sql(s, s"insert overwrite table $part_t partition (ds='2010-04-08', hr = '12') " +
          "select key, value from src")
        HiveQl.sql(s, s"analyze table $part_t partition(ds='2010-04-08', hr='11') compute statistics")
        HiveQl.sql(s, s"analyze table $part_t partition(ds='2010-04-08', hr='12') compute statistics")
        HiveQl.sql(s, s"insert overwrite table $part_t partition (ds='2010-04-08', hr = '13') " +
          "select key, value from src")
        val f1 = partStats(s, 1, part_t)
        val f2 = tblStats(s, 2, part_t) // autogather covered hr=13: rollup
        HiveQl.sql(s, s"analyze table $part_t partition(ds, hr) compute statistics")
        val f3 = tblStats(s, 3, part_t)
        HiveQl.sql(s, s"drop table $src_t")
        HiveQl.sql(s, s"drop table $part_t")
        ordered(Seq(f0, f1, f2, f3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'tbl:numRows', '500'), (0, 'tbl:hasFiles', 'true'),
          (0, 'tbl:hasBytes', 'true'),
          (1, 'part:ds=2010-04-08/hr=11', '500'),
          (1, 'part:ds=2010-04-08/hr=12', '500'),
          (1, 'part:ds=2010-04-08/hr=13', '500'),
          (2, 'tbl:numRows', '1500'), (2, 'tbl:hasFiles', 'true'),
          (2, 'tbl:hasBytes', 'true'),
          (3, 'tbl:numRows', '1500'), (3, 'tbl:hasFiles', 'true'),
          (3, 'tbl:hasBytes', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    QueryDef(
      "q793_qf_stats15",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        HiveQl.sql(s, "set hive.stats.collect.uncompressedsize=false")
        val t = s"stats_part_q793_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        for (hr <- Seq("11", "12"))
          HiveQl.sql(s, s"insert overwrite table $t partition (ds='2010-04-08', hr = '$hr') " +
            "select key, value from src")
        HiveQl.sql(s, s"analyze table $t partition(ds, hr) compute statistics")
        val f0 = partStats(s, 0, t)
        val f1 = tblStats(s, 1, t)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'part:ds=2010-04-08/hr=11', '500'),
          (0, 'part:ds=2010-04-08/hr=12', '500'),
          (1, 'tbl:numRows', '1000'), (1, 'tbl:hasFiles', 'true'),
          (1, 'tbl:hasBytes', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/stats16.q: no stats before, INSERT INTO then
    //      ANALYZE publishes them
    QueryDef(
      "q794_qf_stats16",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        HiveQl.sql(s, "set hive.stats.autogather=false")
        val t = s"stats16_q794_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key int, value string)")
        val f0 = tblStats(s, 0, t)
        HiveQl.sql(s, s"insert into table $t select * from src")
        HiveQl.sql(s, s"analyze table $t compute statistics")
        val f1 = tblStats(s, 1, t)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'tbl:numRows', '<none>'), (0, 'tbl:hasFiles', 'false'),
          (0, 'tbl:hasBytes', 'false'),
          (1, 'tbl:numRows', '500'), (1, 'tbl:hasFiles', 'true'),
          (1, 'tbl:hasBytes', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/alter_merge.q: CONCATENATE merges the three
    //      loaded RCFiles into one, values preserved — table and partition
    //      scopes
    QueryDef(
      "q795_qf_alter_merge",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_rc_merge_test_q795_$sfx"
        rcMergeTable(s, t, None)
        val before = fingerprint(s, t)
        val f0 = facts(s, 0, Seq(
          "files_before" -> extFiles(s, t),
          "rows_nonzero" -> (before._1 > 0).toString))
        HiveQl.sql(s, s"alter table $t concatenate")
        val after = fingerprint(s, t)
        val f1 = facts(s, 1, Seq(
          "files_after" -> extFiles(s, t),
          "fingerprint_preserved" -> (before == after).toString))
        val tp = s"src_rc_merge_test_part_q795_$sfx"
        rcMergeTable(s, tp, Some("2011"))
        val pBefore = fingerprint(s, tp)
        val f2 = facts(s, 2, Seq(
          "part_files_before" -> extFiles(s, tp, Some("ds='2011'")),
          "part_rows_nonzero" -> (pBefore._1 > 0).toString))
        HiveQl.sql(s, s"alter table $tp partition (ds='2011') concatenate")
        val pAfter = fingerprint(s, tp)
        val f3 = facts(s, 3, Seq(
          "part_files_after" -> extFiles(s, tp, Some("ds='2011'")),
          "part_fingerprint_preserved" -> (pBefore == pAfter).toString))
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $tp")
        ordered(Seq(f0, f1, f2, f3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'files_before', '3'), (0, 'rows_nonzero', 'true'),
          (1, 'files_after', '1'), (1, 'fingerprint_preserved', 'true'),
          (2, 'part_files_before', '3'), (2, 'part_rows_nonzero', 'true'),
          (3, 'part_files_after', '1'), (3, 'part_fingerprint_preserved', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/alter_merge_stats.q: ANALYZE, then CONCATENATE —
    //      published numRows survives the merge, the file census shrinks
    QueryDef(
      "q796_qf_alter_merge_stats",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_rc_merge_test_stat_q796_$sfx"
        rcMergeTable(s, t, None)
        val rows = fingerprint(s, t)._1
        HiveQl.sql(s, s"analyze table $t compute statistics")
        val f0 = facts(s, 0, Seq(
          "files_before" -> extFiles(s, t),
          "numRows_matches_count" -> (s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t))
            .properties.get("numRows").contains(rows.toString)).toString))
        HiveQl.sql(s, s"alter table $t concatenate")
        val f1 = facts(s, 1, Seq(
          "files_after" -> extFiles(s, t),
          "numRows_preserved" -> (s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t))
            .properties.get("numRows").contains(rows.toString)).toString,
          "count_preserved" -> (fingerprint(s, t)._1 == rows).toString))
        val tp = s"src_rc_merge_test_part_stat_q796_$sfx"
        rcMergeTable(s, tp, Some("2011"))
        val pRows = fingerprint(s, tp)._1
        HiveQl.sql(s, s"analyze table $tp partition(ds='2011') compute statistics")
        HiveQl.sql(s, s"alter table $tp partition (ds='2011') concatenate")
        val f2 = facts(s, 2, Seq(
          "part_files_after" -> extFiles(s, tp, Some("ds='2011'")),
          "part_count_preserved" -> (fingerprint(s, tp)._1 == pRows).toString))
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $tp")
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'files_before', '3'), (0, 'numRows_matches_count', 'true'),
          (1, 'files_after', '1'), (1, 'numRows_preserved', 'true'),
          (1, 'count_preserved', 'true'),
          (2, 'part_files_after', '1'), (2, 'part_count_preserved', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/alter_concatenate_indexed_table.q: the
    //      check.index gate — refused while indexed (default), forced
    //      through with hive.exec.concatenate.check.index=false
    QueryDef(
      "q797_qf_alter_concatenate_indexed_table",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_rc_concat_test_q797_$sfx"
        rcMergeTable(s, t, None)
        val before = fingerprint(s, t)
        HiveQl.sql(s, s"drop index if exists concat_idx on $t")
        HiveQl.sql(s, s"create index concat_idx on table $t(key) as 'compact' " +
          """WITH DEFERRED REBUILD IDXPROPERTIES ("prop1"="val1", "prop2"="val2")""")
        val f0 = facts(s, 0, Seq(
          "files_before" -> extFiles(s, t),
          "idx_count" -> HiveQl.sql(s, s"show indexes on $t").count().toString))
        HiveQl.sql(s, "set hive.exec.concatenate.check.index=true")
        val refused =
          try { HiveQl.sql(s, s"alter table $t concatenate"); false }
          catch { case _: Exception => true }
        HiveQl.sql(s, "set hive.exec.concatenate.check.index =false")
        HiveQl.sql(s, s"alter table $t concatenate")
        val after = fingerprint(s, t)
        val f1 = facts(s, 1, Seq(
          "refused_while_checked" -> refused.toString,
          "files_after" -> extFiles(s, t),
          "fingerprint_preserved" -> (before == after).toString))
        HiveQl.sql(s, s"drop index concat_idx on $t")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'files_before', '3'), (0, 'idx_count', '1'),
          (1, 'refused_while_checked', 'true'), (1, 'files_after', '1'),
          (1, 'fingerprint_preserved', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2"""))
  )
}
