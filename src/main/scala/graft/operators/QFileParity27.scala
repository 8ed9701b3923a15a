package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 27 (round 15): split_sample.q — the
  * TABLESAMPLE (n PERCENT) split-sampling path that shipped untested in
  * round 14 — plus the pruning-through-joins family and in-reach singles.
  *
  * split_sample.q semantics (SemanticAnalyzer.java splitSample +
  * CombineHiveInputFormat.sampleSplits): whole input splits are chosen,
  * seeded by hive.sample.seednumber, until sampled bytes reach n% of the
  * input — never fewer than one split. Our unit is the FILE; fixture
  * tables are built so each partition insert lands exactly one 500-row
  * file (asserted by the nfiles fact), making every sample's row count
  * and content deterministic regardless of WHICH file the seed picks.
  */
object QFileParity27 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, dump, cnt, leg, RefData, csv, legSql}
  import QFileParity.Pairs.{facts, ordered}

  private def dataFiles(s: SparkSession, table: String): Seq[String] = {
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table))
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith("."))
          out += p.toString
      }
    }
    out.toSeq
  }

  /** Java String.hashCode in DuckDB (the q89 recipe): fold c*31+ch under
    * mod 2^32 (multiplication-homomorphic ≡ Java's int wrap), then recentre
    * into signed-int range. */
  private def jh(c: String): String =
    s"""(((list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length($c) + 1),
          i -> CAST(ascii($c[i:i]) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 4294967296)
        + 2147483648) % 4294967296) - 2147483648)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/split_sample.q: TABLESAMPLE (n PERCENT) —
    //      seeded whole-split selection. ss_i_part analogue: 3 identical
    //      one-file partitions (copies of src), so a 1% sample reads
    //      EXACTLY one file (500 rows, src content), 70% reads all three,
    //      and seed variation over the shifted-key table lands in exactly
    //      one +b*10000 key band.
    QueryDef(
      "q803_qf_split_sample",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val part = s"ss_i_part_q803_$sfx"
        val src3 = s"ss_src3_q803_$sfx"
        val src1 = s"ss_src1_q803_$sfx"
        val t3 = s"ss_t3_q803_$sfx"
        fresh(s, part, src3, src1, t3)
        HiveQl.sql(s, s"set hive.sample.seednumber=0")
        HiveQl.sql(s,
          s"create table $part (key int, value string) partitioned by (p string)")
        for (p <- Seq("1", "2", "3"))
          HiveQl.sql(s, s"insert overwrite table $part partition (p='$p') " +
            "select cast(key as int), value from src")
        // one data file per partition is the premise for determinism
        val f0 = facts(s, 0, Seq(
          "nfiles" -> dataFiles(s, part).length.toString,
          "cnt_1pct" ->
            cnt(s, s"select count(1) from $part tablesample(1 percent)").toString))
        val f1 = facts(s, 1, Seq("cnt_100pct" ->
          cnt(s, s"select count(1) from $part tablesample(100 percent)").toString))
        // 70% of 3 equal files: cum 2/3 < 0.7 target -> all 3 chosen
        val f2 = facts(s, 2, Seq("distinct_70pct" ->
          cnt(s, "select count(distinct key) from " +
            s"$part tablesample(70 percent)").toString))
        // seed variation over shifted key bands (+10000/+20000/+30000):
        // every seed's 1% sample is one whole partition file
        HiveQl.sql(s,
          s"create table $src3 (key int, value string) partitioned by (p string)")
        for ((p, off) <- Seq("1" -> 10000, "2" -> 20000, "3" -> 30000))
          HiveQl.sql(s, s"insert overwrite table $src3 partition (p='$p') " +
            s"select cast(key as int) + $off, value from src")
        val srcSum = 115250L // sum of (rn*rn)%500, rn=1..500
        val f3 = facts(s, 3, Seq(3, 4, 5).map { sd =>
          HiveQl.sql(s, s"set hive.sample.seednumber=$sd")
          val r = HiveQl.sql(s, "select count(1) as c, sum(key) as sk, " +
            s"min(key) as mn, max(key) as mx from $src3 tablesample(1 percent)")
            .collect()(0)
          val c = r.getLong(0); val sk = r.getLong(1)
          val band = r.getAs[Number](2).longValue / 10000
          val bandHi = r.getAs[Number](3).longValue / 10000
          val ok = c == 500L && band == bandHi && band >= 1 && band <= 3 &&
            sk == srcSum + band * 10000L * 500L
          s"seed${sd}_band_ok" -> ok.toString
        })
        // CTAS through a sample (ss_t3 shape): sum lands in one band
        val valid = (1 to 3).map(b => (srcSum + b * 10000L * 500L) % 397L).toSet
        HiveQl.sql(s,
          s"create table $t3 as select sum(key) % 397 as sq from $src3 tablesample(1 percent)")
        val f3b = facts(s, 3, Seq("ctas_sample_valid" ->
          valid.contains(HiveQl.sql(s, s"select sq from $t3")
            .collect()(0).getAs[Number](0).longValue).toString))
        HiveQl.sql(s, s"set hive.sample.seednumber=0")
        // subquery + LIMIT over the sample
        val f4 = facts(s, 4, Seq("subq_limit_cnt" ->
          cnt(s, "select count(1) from (select key from " +
            s"$part tablesample(1 percent) limit 10) subq").toString))
        // group-by over the 1% sample = src's own group-by (any file is a
        // copy of src) — dumped as full rows, the strongest check here
        val gb = HiveQl.sql(s, s"select key, count(1) as c from " +
          s"$part tablesample(1 percent) group by key")
          .select(lit(5).as("sec"), col("key").cast("string").as("c1"),
            col("c").cast("string").as("c2"))
          .localCheckpoint(true) // materialize before the drops below
        // join: unsampled CTAS (3 copies of src) vs a 1-file sample
        HiveQl.sql(s, s"create table $src1 as select key, value from $part")
        val f6 = facts(s, 6, Seq("join_cnt" ->
          cnt(s, s"select count(1) from $src1 a join " +
            s"$part tablesample(1 percent) t2 on a.key = t2.key").toString))
        // two samples of the SAME table in one statement (80% = all files,
        // 2% = one file) — exercises per-sample view identity
        val f7 = facts(s, 7, Seq("fo_k0_cnt" ->
          cnt(s, "select count(1) from (select t1.key as k1, t2.key as k " +
            s"from $part tablesample(80 percent) t1 full outer join " +
            s"$part tablesample(2 percent) t2 on t1.key = t2.key) subq " +
            "where k = 0 and k1 = 0").toString))
        Seq(part, src3, src1, t3).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ordered(Seq(f0, f1, f2, f3, f3b, f4, gb, f6, f7))
      },
      Some(s"""$SrcCte,
        gb AS (SELECT 5 AS sec, CAST(key AS VARCHAR) AS c1,
                      CAST(count(1) AS VARCHAR) AS c2 FROM src GROUP BY key),
        f AS (SELECT * FROM (VALUES
          (0,'cnt_1pct','500'), (0,'nfiles','3'),
          (1,'cnt_100pct','1500'), (2,'distinct_70pct','106'),
          (3,'seed3_band_ok','true'), (3,'seed4_band_ok','true'),
          (3,'seed5_band_ok','true'), (3,'ctas_sample_valid','true'),
          (4,'subq_limit_cnt','10'),
          (6,'join_cnt','10200'), (7,'fo_k0_cnt','300')) v(sec, c1, c2))
        SELECT * FROM (SELECT * FROM gb UNION ALL SELECT * FROM f)
        ORDER BY sec, c1, c2""")),

    // ---- clientpositive/pcr.q: partition-condition-remover battery —
    //      every mixed partition/data predicate shape (AND/OR crossings,
    //      all-true prunes, self-joins pinned to partitions, multi-insert
    //      with partition predicates, srcpart tails)
    QueryDef(
      "q804_qf_pcr",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"pcr_t1_q804_$sfx"
        val t2 = s"pcr_t2_q804_$sfx"
        val t3 = s"pcr_t3_q804_$sfx"
        fresh(s, t1, t2, t3)
        HiveQl.sql(s, s"create table $t1 (key int, value string) partitioned by (ds string)")
        for (ds <- Seq("2000-04-08", "2000-04-09", "2000-04-10"))
          HiveQl.sql(s, s"insert overwrite table $t1 partition (ds='$ds') " +
            "select * from src where key < 20 order by key")
        // each leg materializes at creation: later statements mutate t1/t2/t3
        def q(sec: Int, sql: String) =
          leg(sec, HiveQl.sql(s, sql)).localCheckpoint(true)
        val legs0 = Seq(
          q(0, s"select key, value, ds from $t1 where ds<='2000-04-09' and key<5 order by key, ds"),
          q(1, s"select key, value from $t1 where ds<='2000-04-09' or key<5 order by key"),
          q(2, s"select key, value, ds from $t1 where ds<='2000-04-09' and key<5 and value != 'val_2' order by key, ds"),
          q(3, s"select key, value, ds from $t1 where (ds < '2000-04-09' and key < 5) or (ds > '2000-04-09' and value == 'val_5') order by key, ds"),
          q(4, s"select key, value, ds from $t1 where (ds < '2000-04-10' and key < 5) or (ds > '2000-04-08' and value == 'val_5') order by key, ds"),
          q(5, s"select key, value, ds from $t1 where (ds < '2000-04-10' or key < 5) and (ds > '2000-04-08' or value == 'val_5') order by key, ds"),
          q(6, s"select key, value from $t1 where (ds='2000-04-08' or ds='2000-04-09') and key=14 order by key, value"),
          q(7, s"select key, value from $t1 where ds='2000-04-08' or ds='2000-04-09' order by key, value"),
          q(8, s"select key, value from $t1 where ds>='2000-04-08' or ds<'2000-04-10' order by key, value"),
          q(9, s"select key, value, ds from $t1 where (ds='2000-04-08' and key=1) or (ds='2000-04-09' and key=2) order by key, value, ds"),
          q(10, s"select * from $t1 t1 join $t1 t2 on t1.key=t2.key and t1.ds='2000-04-08' and t2.ds='2000-04-08' order by t1.key"),
          q(11, s"select * from $t1 t1 join $t1 t2 on t1.key=t2.key and t1.ds='2000-04-08' and t2.ds='2000-04-09' order by t1.key"))
        HiveQl.sql(s, s"insert overwrite table $t1 partition (ds='2000-04-11') " +
          "select * from src where key < 20 order by key")
        val legs1 = Seq(
          q(12, s"select key, value, ds from $t1 where (ds>'2000-04-08' and ds<'2000-04-11') or (ds>='2000-04-08' and ds<='2000-04-11' and key=2) order by key, value, ds"),
          q(13, s"select key, value, ds from $t1 where (ds>'2000-04-08' and ds<'2000-04-11') or (ds<='2000-04-09' and key=2) order by key, value, ds"))
        HiveQl.sql(s, s"create table $t2 (key int, value string)")
        HiveQl.sql(s, s"create table $t3 (key int, value string)")
        HiveQl.sql(s, s"""from $t1
          insert overwrite table $t2 select key, value where ds='2000-04-08'
          insert overwrite table $t3 select key, value where ds='2000-04-08'""")
        val legs2 = Seq(q(14, s"select * from $t2"), q(15, s"select * from $t3"))
        HiveQl.sql(s, s"""from $t1
          insert overwrite table $t2 select key, value where ds='2000-04-08' and key=2
          insert overwrite table $t3 select key, value where ds='2000-04-08' and key=3""")
        val legs3 = Seq(
          q(16, s"select * from $t2"), q(17, s"select * from $t3"),
          q(18, "select key, value from srcpart where ds='2008-04-04' and hr=11 order by key limit 10"),
          q(19, "select key, value, ds, hr from srcpart where ds='2008-04-08' and (hr='11' or hr='12') and key=11 order by key, ds, hr"),
          q(20, "select key, value, ds, hr from srcpart where hr='11' and key=11 order by key, ds, hr"))
        Seq(t1, t2, t3).foreach(t => HiveQl.sql(s, s"drop table $t"))
        (legs0 ++ legs1 ++ legs2 ++ legs3).reduce(_ union _).orderBy("sec", "c1")
      },
      Some {
        val kv = Seq("key", "value")
        val kvd = Seq("key", "value", "ds")
        def l(sec: Int, cols: Seq[String], from: String) = legSql(sec, cols, from)
        s"""$SrcPartCte,
        pcr AS (SELECT CAST(key AS INT) AS key, value, d.ds
                FROM src, (VALUES ('2000-04-08'),('2000-04-09'),('2000-04-10')) d(ds)
                WHERE CAST(key AS DOUBLE) < 20),
        pcr4 AS (SELECT key, value, ds FROM pcr UNION ALL
                 SELECT CAST(key AS INT), value, '2000-04-11' FROM src
                 WHERE CAST(key AS DOUBLE) < 20),
        legs AS (
          ${l(0, kvd, "FROM pcr WHERE ds<='2000-04-09' AND key<5")}
          UNION ALL ${l(1, kv, "FROM pcr WHERE ds<='2000-04-09' OR key<5")}
          UNION ALL ${l(2, kvd, "FROM pcr WHERE ds<='2000-04-09' AND key<5 AND value != 'val_2'")}
          UNION ALL ${l(3, kvd, "FROM pcr WHERE (ds<'2000-04-09' AND key<5) OR (ds>'2000-04-09' AND value='val_5')")}
          UNION ALL ${l(4, kvd, "FROM pcr WHERE (ds<'2000-04-10' AND key<5) OR (ds>'2000-04-08' AND value='val_5')")}
          UNION ALL ${l(5, kvd, "FROM pcr WHERE (ds<'2000-04-10' OR key<5) AND (ds>'2000-04-08' OR value='val_5')")}
          UNION ALL ${l(6, kv, "FROM pcr WHERE (ds='2000-04-08' OR ds='2000-04-09') AND key=14")}
          UNION ALL ${l(7, kv, "FROM pcr WHERE ds='2000-04-08' OR ds='2000-04-09'")}
          UNION ALL ${l(8, kv, "FROM pcr WHERE ds>='2000-04-08' OR ds<'2000-04-10'")}
          UNION ALL ${l(9, kvd, "FROM pcr WHERE (ds='2000-04-08' AND key=1) OR (ds='2000-04-09' AND key=2)")}
          UNION ALL ${l(10, Seq("t1.key", "t1.value", "t1.ds", "t2.key", "t2.value", "t2.ds"),
            "FROM pcr t1 JOIN pcr t2 ON t1.key=t2.key AND t1.ds='2000-04-08' AND t2.ds='2000-04-08' WHERE t1.ds='2000-04-08' AND t2.ds='2000-04-08'")}
          UNION ALL ${l(11, Seq("t1.key", "t1.value", "t1.ds", "t2.key", "t2.value", "t2.ds"),
            "FROM pcr t1 JOIN pcr t2 ON t1.key=t2.key AND t1.ds='2000-04-08' AND t2.ds='2000-04-09' WHERE t1.ds='2000-04-08' AND t2.ds='2000-04-09'")}
          UNION ALL ${l(12, kvd, "FROM pcr4 WHERE (ds>'2000-04-08' AND ds<'2000-04-11') OR (ds>='2000-04-08' AND ds<='2000-04-11' AND key=2)")}
          UNION ALL ${l(13, kvd, "FROM pcr4 WHERE (ds>'2000-04-08' AND ds<'2000-04-11') OR (ds<='2000-04-09' AND key=2)")}
          UNION ALL ${l(14, kv, "FROM pcr WHERE ds='2000-04-08'")}
          UNION ALL ${l(15, kv, "FROM pcr WHERE ds='2000-04-08'")}
          UNION ALL ${l(16, kv, "FROM pcr WHERE ds='2000-04-08' AND key=2")}
          UNION ALL ${l(17, kv, "FROM pcr WHERE ds='2000-04-08' AND key=3")}
          UNION ALL ${l(19, Seq("key", "value", "ds", "hr"),
            "FROM srcpart WHERE ds='2008-04-08' AND (hr='11' OR hr='12') AND CAST(key AS DOUBLE)=11")}
          UNION ALL ${l(20, Seq("key", "value", "ds", "hr"),
            "FROM srcpart WHERE hr='11' AND CAST(key AS DOUBLE)=11")})
        SELECT * FROM legs ORDER BY sec, c1"""
      }),

    // ---- clientpositive/ppr_pushdown.q: partition values with regex
    //      metacharacters (12+4, 12.4, 12:4, 12%4, 12*4) must prune
    //      EXACTLY — '12.4' must not match '1234', '12.*4' matches nothing
    QueryDef(
      "q805_qf_ppr_pushdown",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"ppr_test_q805_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string) partitioned by (ds string)")
        val vals = Seq("1234", "1224", "1214", "12+4", "12.4", "12:4", "12%4", "12*4")
        for (v <- vals) {
          HiveQl.sql(s, s"alter table $t add partition (ds = '$v')")
          // Hive.g binds a union leg's trailing LIMIT to THAT leg; the legs
          // are parenthesized to keep the reference's scope (q662 pattern)
          HiveQl.sql(s, s"insert overwrite table $t partition(ds = '$v') " +
            s"select * from ((select '$v' from src limit 1) union all " +
            "(select 'abcd' from src limit 1)) s")
        }
        val legs = (vals :+ "12.*4").zipWithIndex.map { case (v, i) =>
          leg(i, HiveQl.sql(s, s"select * from $t where ds = '$v'"))
        } ++ vals.zipWithIndex.map { case (v, i) =>
          leg(100 + i, HiveQl.sql(s,
            s"select * from $t where ds = '$v' and key = '$v'"))
        }
        val out = legs.reduce(_ union _).orderBy("sec", "c1").localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some {
        val vals = Seq("1234", "1224", "1214", "12+4", "12.4", "12:4", "12%4", "12*4")
        val rows = vals.zipWithIndex.flatMap { case (v, i) =>
          Seq(s"($i, '$v|$v')", s"($i, 'abcd|$v')", s"(${100 + i}, '$v|$v')")
        }.mkString(", ")
        s"SELECT * FROM (VALUES $rows) v(sec, c1) ORDER BY sec, c1"
      }),

    // ---- clientpositive/ppr_pushdown2.q: prefix-confusable partition
    //      values ('2' vs '22') and partition-column NAMES that are
    //      suffixes of each other (col/ol/l)
    QueryDef(
      "q806_qf_ppr_pushdown2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"ppr_test_q806_$sfx"
        val t2 = s"ppr_test2_q806_$sfx"
        val t3 = s"ppr_test3_q806_$sfx"
        fresh(s, t, t2, t3)
        HiveQl.sql(s, s"create table $t (key string) partitioned by (ds string)")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds='2') select '2' from src limit 1")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds='22') select '22' from src limit 1")
        HiveQl.sql(s, s"create table $t2 (key string) partitioned by (ds string, s string)")
        HiveQl.sql(s, s"insert overwrite table $t2 partition(ds='1', s='2') select '1' from src limit 1")
        HiveQl.sql(s, s"insert overwrite table $t2 partition(ds='2', s='1') select '2' from src limit 1")
        HiveQl.sql(s, s"create table $t3 (key string) partitioned by (col string, ol string, l string)")
        HiveQl.sql(s, s"insert overwrite table $t3 partition(col='1', ol='2', l = '3') select '1' from src limit 1")
        HiveQl.sql(s, s"insert overwrite table $t3 partition(col='1', ol='1', l = '2') select '2' from src limit 1")
        HiveQl.sql(s, s"insert overwrite table $t3 partition(col='1', ol='2', l = '1') select '3' from src limit 1")
        val legs = Seq(
          leg(0, HiveQl.sql(s, s"select * from $t where ds = '2'")),
          leg(1, HiveQl.sql(s, s"select * from $t where ds = '22'")),
          leg(2, HiveQl.sql(s, s"select * from $t2 where s = '1'")),
          leg(3, HiveQl.sql(s, s"select * from $t2 where ds = '1'")),
          leg(4, HiveQl.sql(s, s"select * from $t3 where l = '1'")),
          leg(5, HiveQl.sql(s, s"select * from $t3 where l = '2'")),
          leg(6, HiveQl.sql(s, s"select * from $t3 where ol = '1'")),
          leg(7, HiveQl.sql(s, s"select * from $t3 where ol = '2'")),
          leg(8, HiveQl.sql(s, s"select * from $t3 where col = '1'")),
          leg(9, HiveQl.sql(s, s"select * from $t3 where ol = '2' and l = '1'")),
          leg(10, HiveQl.sql(s, s"select * from $t3 where col='1' and ol = '2' and l = '1'")))
        val out = legs.reduce(_ union _).orderBy("sec", "c1").localCheckpoint(true)
        Seq(t, t2, t3).foreach(x => HiveQl.sql(s, s"drop table $x"))
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, '2|2'), (1, '22|22'),
        (2, '2|2|1'), (3, '1|1|2'),
        (4, '3|1|2|1'), (5, '2|1|1|2'),
        (6, '2|1|1|2'), (7, '1|1|2|3'), (7, '3|1|2|1'),
        (8, '1|1|2|3'), (8, '2|1|1|2'), (8, '3|1|2|1'),
        (9, '3|1|2|1'), (10, '3|1|2|1')) v(sec, c1)
        ORDER BY sec, c1""")),

    // ---- clientpositive/ppr_pushdown3.q: unrestricted scans over the
    //      partitioned srcpart (nonstrict mode) + a data filter
    QueryDef(
      "q807_qf_ppr_pushdown3",
      (s, dir) => {
        fixtures(s, dir)
        Seq(
          leg(0, HiveQl.sql(s, "select * from srcpart where key < 10")),
          leg(1, HiveQl.sql(s, "select * from srcpart")),
          leg(2, HiveQl.sql(s, "select key from srcpart")))
          .reduce(_ union _).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte, legs AS (
        ${legSql(0, Seq("key", "value", "ds", "hr"),
          "FROM srcpart WHERE CAST(key AS DOUBLE) < 10")}
        UNION ALL ${legSql(1, Seq("key", "value", "ds", "hr"), "FROM srcpart")}
        UNION ALL ${legSql(2, Seq("key"), "FROM srcpart")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/louter_join_ppr.q + clientpositive/router_join_ppr.q
    //      + clientpositive/outer_join_ppr.q: predicate pushdown through outer joins where
    //      the partition filter sits in the ON clause vs the WHERE clause,
    //      on the preserved vs null-supplying side — the family most
    //      likely to catch a pruning-vs-join-order divergence
    QueryDef(
      "q808_qf_louter_join_ppr",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.optimize.ppd=true")
        def q(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql))
        Seq(
          q(0, """FROM src a LEFT OUTER JOIN srcpart b
            ON (a.key = b.key AND b.ds = '2008-04-08')
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25"""),
          q(1, """FROM srcpart a LEFT OUTER JOIN src b
            ON (a.key = b.key AND a.ds = '2008-04-08')
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25"""),
          q(2, """FROM src a LEFT OUTER JOIN srcpart b
            ON (a.key = b.key)
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25 AND b.ds = '2008-04-08'"""),
          q(3, """FROM srcpart a LEFT OUTER JOIN src b
            ON (a.key = b.key)
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25 AND a.ds = '2008-04-08'"""))
          .reduce(_ union _).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte, legs AS (
        ${legSql(0, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a LEFT OUTER JOIN srcpart b
             ON (a.key = b.key AND b.ds = '2008-04-08')
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25""")}
        UNION ALL ${legSql(1, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM srcpart a LEFT OUTER JOIN src b
             ON (a.key = b.key AND a.ds = '2008-04-08')
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25""")}
        UNION ALL ${legSql(2, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a LEFT OUTER JOIN srcpart b ON (a.key = b.key)
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
               AND b.ds = '2008-04-08'""")}
        UNION ALL ${legSql(3, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM srcpart a LEFT OUTER JOIN src b ON (a.key = b.key)
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
               AND a.ds = '2008-04-08'""")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    QueryDef(
      "q809_qf_router_join_ppr",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.optimize.ppd=true")
        def q(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql))
        Seq(
          q(0, """FROM src a RIGHT OUTER JOIN srcpart b
            ON (a.key = b.key AND b.ds = '2008-04-08')
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25"""),
          q(1, """FROM srcpart a RIGHT OUTER JOIN src b
            ON (a.key = b.key AND a.ds = '2008-04-08')
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25"""),
          q(2, """FROM src a RIGHT OUTER JOIN srcpart b
            ON (a.key = b.key)
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25 AND b.ds = '2008-04-08'"""),
          q(3, """FROM srcpart a RIGHT OUTER JOIN src b
            ON (a.key = b.key)
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25 AND a.ds = '2008-04-08'"""))
          .reduce(_ union _).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte, legs AS (
        ${legSql(0, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a RIGHT OUTER JOIN srcpart b
             ON (a.key = b.key AND b.ds = '2008-04-08')
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25""")}
        UNION ALL ${legSql(1, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM srcpart a RIGHT OUTER JOIN src b
             ON (a.key = b.key AND a.ds = '2008-04-08')
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25""")}
        UNION ALL ${legSql(2, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a RIGHT OUTER JOIN srcpart b ON (a.key = b.key)
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
               AND b.ds = '2008-04-08'""")}
        UNION ALL ${legSql(3, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM srcpart a RIGHT OUTER JOIN src b ON (a.key = b.key)
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
               AND a.ds = '2008-04-08'""")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    QueryDef(
      "q810_qf_outer_join_ppr",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.optimize.ppd=true")
        def q(sec: Int, sql: String) = leg(sec, HiveQl.sql(s, sql))
        Seq(
          q(0, """FROM src a FULL OUTER JOIN srcpart b
            ON (a.key = b.key AND b.ds = '2008-04-08')
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25"""),
          q(1, """FROM src a FULL OUTER JOIN srcpart b
            ON (a.key = b.key)
            SELECT a.key, a.value, b.key, b.value
            WHERE a.key > 10 AND a.key < 20 AND b.key > 15 AND b.key < 25 AND b.ds = '2008-04-08'"""))
          .reduce(_ union _).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte, legs AS (
        ${legSql(0, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a FULL OUTER JOIN srcpart b
             ON (a.key = b.key AND b.ds = '2008-04-08')
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25""")}
        UNION ALL ${legSql(1, Seq("a.key", "a.value", "b.key", "b.value"),
          """FROM src a FULL OUTER JOIN srcpart b ON (a.key = b.key)
             WHERE CAST(a.key AS DOUBLE) > 10 AND CAST(a.key AS DOUBLE) < 20
               AND CAST(b.key AS DOUBLE) > 15 AND CAST(b.key AS DOUBLE) < 25
               AND b.ds = '2008-04-08'""")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/authorization_3.q: grant/revoke round trips —
    //      single, comma-list, and column-scoped privilege lists all
    //      revoke back to empty
    QueryDef(
      "q811_qf_authorization_3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_autho_q811_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t as select * from src")
        def grants(sec: Int) = facts(s, sec,
          HiveQl.sql(s, s"show grant user hive_test_user on table $t")
            .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
        HiveQl.sql(s, s"grant drop on table $t to user hive_test_user")
        HiveQl.sql(s, s"grant select on table $t to user hive_test_user")
        val g0 = grants(0)
        HiveQl.sql(s, s"revoke select on table $t from user hive_test_user")
        HiveQl.sql(s, s"revoke drop on table $t from user hive_test_user")
        val g1 = grants(1)
        HiveQl.sql(s, s"grant drop,select on table $t to user hive_test_user")
        val g2 = grants(2)
        HiveQl.sql(s, s"revoke drop,select on table $t from user hive_test_user")
        HiveQl.sql(s,
          s"grant drop,select(key), select(value) on table $t to user hive_test_user")
        val g3 = grants(3)
        HiveQl.sql(s,
          s"revoke drop,select(key), select(value) on table $t from user hive_test_user")
        val g4 = grants(4)
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(g0, g1, g2, g3, g4))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'Drop', 'USER'), (0, 'Select', 'USER'),
        (2, 'Drop', 'USER'), (2, 'Select', 'USER'),
        (3, 'Drop', 'USER'), (3, 'Select(key)', 'USER'), (3, 'Select(value)', 'USER'))
        v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/authorization_4.q: grant All authorizes the read
    QueryDef(
      "q812_qf_authorization_4",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_autho_q812_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t as select * from src")
        HiveQl.sql(s, s"revoke All on table $t from user hive_test_user")
        HiveQl.sql(s, s"grant All on table $t to user hive_test_user")
        HiveQl.sql(s, "set hive.security.authorization.enabled=true")
        val g0 = facts(s, 0,
          HiveQl.sql(s, s"show grant user hive_test_user on table $t")
            .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val d1 = dump(HiveQl.sql(s,
          s"select key from $t order by key limit 20")
          .selectExpr("key", "'k' as tag"), 1, "key", "tag")
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(g0, d1))
      },
      Some(s"""$SrcCte,
        top AS (SELECT key FROM src ORDER BY key LIMIT 20),
        legs AS (SELECT 0 AS sec, 'All' AS c1, 'USER' AS c2
          UNION ALL SELECT 1, key, 'k' FROM top)
        SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/authorization_5.q: DATABASE-scope grants, role
    //      grant listing, grants held through a role
    QueryDef(
      "q813_qf_authorization_5",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val db = s"test_db_q813_$sfx"
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        HiveQl.sql(s, s"CREATE DATABASE IF NOT EXISTS $db COMMENT 'Hive test database'")
        // the grant/role stores persist across runs — clean slate
        HiveQl.sql(s, s"revoke drop on database $db from user hive_test_user")
        HiveQl.sql(s, s"revoke select on database $db from user hive_test_user")
        try HiveQl.sql(s, "drop role db_test_role_q813")
        catch { case scala.util.control.NonFatal(_) => () }
        HiveQl.sql(s, s"GRANT drop ON DATABASE $db TO USER hive_test_user")
        HiveQl.sql(s, s"GRANT select ON DATABASE $db TO USER hive_test_user")
        val g0 = facts(s, 0,
          HiveQl.sql(s, s"SHOW GRANT USER hive_test_user ON DATABASE $db")
            .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
        HiveQl.sql(s, "CREATE ROLE db_test_role_q813")
        HiveQl.sql(s, "GRANT ROLE db_test_role_q813 TO USER hive_test_user")
        val g1 = facts(s, 1,
          HiveQl.sql(s, "SHOW ROLE GRANT USER hive_test_user")
            .collect().toSeq.filter(_.getString(0) == "db_test_role_q813")
            .map(r => (r.getString(0), "role")))
        HiveQl.sql(s, s"GRANT drop ON DATABASE $db TO ROLE db_test_role_q813")
        HiveQl.sql(s, s"GRANT select ON DATABASE $db TO ROLE db_test_role_q813")
        val g2 = facts(s, 2,
          HiveQl.sql(s, s"SHOW GRANT ROLE db_test_role_q813 ON DATABASE $db")
            .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
        HiveQl.sql(s, "drop role db_test_role_q813")
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db")
        ordered(Seq(g0, g1, g2))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'Drop', 'USER'), (0, 'Select', 'USER'),
        (1, 'db_test_role_q813', 'role'),
        (2, 'Drop', 'ROLE'), (2, 'Select', 'ROLE'))
        v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/authorization_6.q: PARTITION_LEVEL_PRIVILEGE —
    //      TRUE renders partition-scoped grant rows, FALSE renders NONE
    //      for the partition-scoped show (both halves of the .q)
    QueryDef(
      "q814_qf_authorization_6",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, tmp) = (s"autho_part_q814_$sfx", s"src_auth_tmp_q814_$sfx")
        fresh(s, t, tmp)
        HiveQl.sql(s, s"create table $tmp as select * from src")
        HiveQl.sql(s, s"revoke select on table $tmp from user hive_test_user")
        HiveQl.sql(s, s"grant select on table $tmp to user hive_test_user")
        def half(sec: Int, plp: String): Seq[DataFrame] = {
          fresh(s, t)
          HiveQl.sql(s, s"create table $t (key int, value string) partitioned by (ds string)")
          HiveQl.sql(s, s"""ALTER TABLE $t SET TBLPROPERTIES ("PARTITION_LEVEL_PRIVILEGE"="$plp")""")
          for (p <- Seq("Create", "Update", "Drop", "select", "select(key)"))
            HiveQl.sql(s, s"revoke $p on table $t from user hive_test_user")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          for (p <- Seq("Create", "Update", "Drop"))
            HiveQl.sql(s, s"grant $p on table $t to user hive_test_user")
          val g0 = facts(s, sec,
            HiveQl.sql(s, s"show grant user hive_test_user on table $t")
              .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
          HiveQl.sql(s, s"grant select(key) on table $t to user hive_test_user")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          for (ds <- Seq("2010", "2011"))
            HiveQl.sql(s, s"insert overwrite table $t partition (ds='$ds') " +
              s"select key, value from $tmp")
          HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
          // partition-scoped show: rows iff PARTITION_LEVEL_PRIVILEGE=TRUE
          val p1 = facts(s, sec + 1,
            HiveQl.sql(s, s"show grant user hive_test_user on table $t(key) partition (ds='2010')")
              .collect().toSeq.map(r => (r.getString(2) + "/" + r.getString(5), "part")))
          val p2 = facts(s, sec + 2,
            HiveQl.sql(s, s"show grant user hive_test_user on table $t(key) partition (ds='2011')")
              .collect().toSeq.map(r => (r.getString(2) + "/" + r.getString(5), "part")))
          val c3 = facts(s, sec + 3,
            HiveQl.sql(s, s"show grant user hive_test_user on table $t(key)")
              .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted)
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          val d4 = dump(HiveQl.sql(s,
            s"select key from $t where ds>='2010' order by key limit 20")
            .selectExpr("key", "'k' as tag"), sec + 4, "key", "tag")
          HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          Seq(g0, p1, p2, c3, d4)
        }
        val outs = half(0, "TRUE") ++ half(10, "FALSE")
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $tmp")
        ordered(outs)
      },
      Some(s"""$SrcCte,
        top AS (SELECT CAST(key AS INT) AS key FROM
          (SELECT key FROM src UNION ALL SELECT key FROM src) u
          ORDER BY 1 LIMIT 20),
        legs AS (
          SELECT 0 AS sec, 'Create' AS c1, 'USER' AS c2
          UNION ALL SELECT 0, 'Update', 'USER' UNION ALL SELECT 0, 'Drop', 'USER'
          UNION ALL SELECT 1, 'ds=2010/Select(key)', 'part'
          UNION ALL SELECT 2, 'ds=2011/Select(key)', 'part'
          UNION ALL SELECT 3, 'Select(key)', 'USER'
          UNION ALL SELECT 4, CAST(key AS VARCHAR), 'k' FROM top
          UNION ALL SELECT 10, 'Create', 'USER'
          UNION ALL SELECT 10, 'Update', 'USER' UNION ALL SELECT 10, 'Drop', 'USER'
          UNION ALL SELECT 13, 'Select(key)', 'USER'
          UNION ALL SELECT 14, CAST(key AS VARCHAR), 'k' FROM top)
        SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/sample8.q: sampled sides of a join — the 1/1
    //      sample degenerates to the full partition, the 1/10 side keeps
    //      the string-hash residue class, and the conditionless join
    //      crosses them
    QueryDef(
      "q815_qf_sample8",
      (s, dir) => {
        fixtures(s, dir)
        leg(0, HiveQl.sql(s,
          """SELECT s.key, s.value
             FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1 ON key) s
             JOIN srcpart TABLESAMPLE (BUCKET 1 OUT OF 10 ON key) t
             WHERE s.ds='2008-04-08' and s.hr='11' and s.ds='2008-04-08' and s.hr='11'
             DISTRIBUTE BY key, value
             SORT BY key, value""")).orderBy("sec", "c1")
      },
      Some(s"""$SrcPartCte,
        tside AS (SELECT key FROM srcpart WHERE (${jh("key")} & 2147483647) % 10 = 0),
        sside AS (SELECT key, value FROM srcpart WHERE ds='2008-04-08' AND hr='11'),
        legs AS (${legSql(0, Seq("s.key", "s.value"), "FROM sside s, tside t")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/sample9.q: the bucket-file sample inside a
    //      derived table — the pruned scan survives subquery wrapping
    QueryDef(
      "q816_qf_sample9",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"srcbucket_q816_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket0", "srcbucket1"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $t")
        val out = leg(0, HiveQl.sql(s,
          s"SELECT s.* FROM (SELECT a.* FROM $t TABLESAMPLE (BUCKET 1 OUT OF 2 on key) a) s"))
          .orderBy("sec", "c1").localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some(s"""WITH legs AS (${legSql(0, Seq("key", "value"),
        s"FROM ${csv("srcbucket0")} t")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/sample10.q: dynamic-partition bucketed RCFILE
    //      write (via hive.default.fileformat) then bucket samples per
    //      partition — engine-written layouts sample by the Hive hash
    //      predicate (Spark bucket files are murmur-placed, so positional
    //      pruning would change the row set; the rewrite detects the
    //      bucket-id marker and keeps the predicate)
    QueryDef(
      "q817_qf_sample10",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"srcpartbucket_q817_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, "set hive.enforce.bucketing=true")
        HiveQl.sql(s, "set hive.default.fileformat=RCFILE")
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string) clustered by (key) into 4 buckets")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds, hr) " +
          "select * from srcpart where ds is not null and key < 10")
        HiveQl.sql(s, "set hive.default.fileformat=TEXTFILE")
        val fmt = facts(s, 9, Seq("rcfile" ->
          s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(t))
            .provider.exists(_.contains("HiveRC")).toString))
        val legs = Seq(
          leg(0, HiveQl.sql(s, s"select ds, count(1) from $t " +
            "tablesample (bucket 1 out of 4 on key) where ds is not null group by ds")),
          leg(1, HiveQl.sql(s, s"select ds, count(1) from $t " +
            "tablesample (bucket 1 out of 2 on key) where ds is not null group by ds")),
          leg(2, HiveQl.sql(s, s"select * from $t where ds is not null")))
        val out = (legs :+ fmt.select(col("sec"),
          concat_ws("|", col("c1"), col("c2")).as("c1")))
          .reduce(_ union _).orderBy("sec", "c1").localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some(s"""$SrcPartCte,
        small AS (SELECT key, value, ds, hr FROM srcpart WHERE CAST(key AS DOUBLE) < 10),
        b4 AS (SELECT ds, count(1) AS c FROM small
               WHERE (${jh("key")} & 2147483647) % 4 = 0 GROUP BY ds),
        b2 AS (SELECT ds, count(1) AS c FROM small
               WHERE (${jh("key")} & 2147483647) % 2 = 0 GROUP BY ds),
        legs AS (
          ${legSql(0, Seq("ds", "c"), "FROM b4")}
          UNION ALL ${legSql(1, Seq("ds", "c"), "FROM b2")}
          UNION ALL ${legSql(2, Seq("key", "value", "ds", "hr"), "FROM small")}
          UNION ALL SELECT 9, 'rcfile|true')
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/bucketmapjoin_negative.q: 2-bucket small side vs
    //      3-bucket partition — bucket counts don't divide, so the bucket
    //      map join must NOT engage; the hinted join still answers right
    QueryDef(
      "q818_qf_bucketmapjoin_negative",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val a = s"srcb_mj_q818_$sfx"
        val p = s"srcb_mjp_q818_$sfx"
        val r = s"bmj_result_q818_$sfx"
        fresh(s, a, p, r)
        HiveQl.sql(s, s"CREATE TABLE $a(key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket20", "srcbucket21"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $a")
        HiveQl.sql(s, s"CREATE TABLE $p(key int, value string) partitioned by (ds string) " +
          "CLUSTERED BY (key) INTO 3 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $p partition(ds='2008-04-08')")
        HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
        HiveQl.sql(s, s"create table $r (key string, value1 string, value2 string)")
        val ex = facts(s, 0, Seq("explain_rows" ->
          (HiveQl.sql(s, s"""explain extended
            insert overwrite table $r
            select /*+mapjoin(b)*/ a.key, a.value, b.value
            from $a a join $p b
            on a.key=b.key where b.ds="2008-04-08"""").count() > 0).toString))
        HiveQl.sql(s, s"""insert overwrite table $r
          select /*+mapjoin(b)*/ a.key, a.value, b.value
          from $a a join $p b
          on a.key=b.key where b.ds="2008-04-08"""")
        val d = leg(1, HiveQl.sql(s, s"select * from $r")).localCheckpoint(true)
        Seq(a, p, r).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ex.select(col("sec"), concat_ws("|", col("c1"), col("c2")).as("c1"))
          .union(d).orderBy("sec", "c1")
      },
      Some(s"""WITH aa AS (SELECT * FROM ${csv("srcbucket20")}
          UNION ALL SELECT * FROM ${csv("srcbucket21")}),
        bb AS (SELECT * FROM ${csv("srcbucket20")}
          UNION ALL SELECT * FROM ${csv("srcbucket21")}
          UNION ALL SELECT * FROM ${csv("srcbucket22")}),
        legs AS (SELECT 0 AS sec, 'explain_rows|true' AS c1
          UNION ALL ${legSql(1, Seq("a.key", "a.value", "b.value"),
            "FROM aa a JOIN bb b ON a.key = b.key")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/bucketmapjoin_negative2.q: multi-partition big
    //      side — the per-partition bucket match can't engage across two
    //      partitions; hinted join result still exact
    QueryDef(
      "q819_qf_bucketmapjoin_negative2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val a = s"srcb_mj_q819_$sfx"
        val p2 = s"srcb_mjp2_q819_$sfx"
        val r = s"bmj_result_q819_$sfx"
        fresh(s, a, p2, r)
        HiveQl.sql(s, s"CREATE TABLE $a(key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket20", "srcbucket21"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $a")
        HiveQl.sql(s, s"CREATE TABLE $p2(key int, value string) partitioned by (ds string) " +
          "CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
        for (ds <- Seq("2008-04-08", "2008-04-09"); f <- Seq("srcbucket22", "srcbucket23"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $p2 partition(ds='$ds')")
        HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
        HiveQl.sql(s, s"create table $r (key string, value1 string, value2 string)")
        HiveQl.sql(s, s"""insert overwrite table $r
          select /*+mapjoin(b)*/ a.key, a.value, b.value
          from $a a join $p2 b on a.key=b.key""")
        val d = leg(0, HiveQl.sql(s, s"select * from $r")).localCheckpoint(true)
        Seq(a, p2, r).foreach(t => HiveQl.sql(s, s"drop table $t"))
        d.orderBy("sec", "c1")
      },
      Some(s"""WITH aa AS (SELECT * FROM ${csv("srcbucket20")}
          UNION ALL SELECT * FROM ${csv("srcbucket21")}),
        bb AS (SELECT b.* FROM (SELECT * FROM ${csv("srcbucket22")}
          UNION ALL SELECT * FROM ${csv("srcbucket23")}) b,
          (VALUES (1),(2)) days(d)),
        legs AS (${legSql(0, Seq("a.key", "a.value", "b.value"),
          "FROM aa a JOIN bb b ON a.key = b.key")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/global_limit.q: hive.limit.optimize — LIMIT
    //      without ORDER BY is nondeterministic in WHICH rows, so each
    //      query gets the battery's count + membership-facts oracle;
    //      the grouped/distinct/aggregate non-qualifying cases and the
    //      nested-limit scopes are exact
    QueryDef(
      "q820_qf_global_limit",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val src1 = s"gl_src1_q820_$sfx"
        val src2 = s"gl_src2_q820_$sfx"
        val part1 = s"gl_src_part1_q820_$sfx"
        val tgt = s"gl_tgt_q820_$sfx"
        fresh(s, src1, src2, part1, tgt)
        HiveQl.sql(s, "set hive.limit.optimize.enable=true")
        HiveQl.sql(s, "set hive.limit.optimize.limit.file=2")
        HiveQl.sql(s, s"create table $src1 (key int, value string) stored as textfile")
        for (_ <- 1 to 3)
          HiveQl.sql(s, s"load data local inpath '$RefData/srcbucket20.txt' INTO TABLE $src1")
        HiveQl.sql(s, "set hive.limit.row.max.size=100")
        val keys = HiveQl.sql(s, s"select distinct key from $src1")
          .collect().map(_.getInt(0)).toSet
        def member(sec: Int, name: String, sql: String, lim: Long,
            ofKeys: Set[Int] = keys, plus: Int = 0): DataFrame = {
          val got = HiveQl.sql(s, sql).collect().map(_.getAs[Number](0).intValue)
          facts(s, sec, Seq(
            s"${name}_cnt" -> got.length.toString,
            s"${name}_member" -> got.forall(k => ofKeys(k - plus)).toString))
        }
        HiveQl.sql(s, s"create table $tgt as select key from $src1 limit 1")
        val f0 = member(0, "ctas1", s"select * from $tgt", 1)
        val f1 = facts(s, 1, Seq("split20_cnt" ->
          HiveQl.sql(s, s"select 'x', split(value,',') from $src1 limit 20")
            .count().toString))
        val f2 = facts(s, 2, Seq("limit30_cnt" ->
          HiveQl.sql(s, s"select key, value, split(value,',') from $src1 limit 30")
            .count().toString))
        val f3 = member(3, "limit100", s"select key from $src1 limit 100", 100)
        HiveQl.sql(s, "set hive.limit.optimize.limit.file=4")
        val f4 = member(4, "limit30b", s"select key from $src1 limit 30", 30)
        // non-qualifying cases: exact results
        val d5 = leg(5, HiveQl.sql(s,
          s"select key, count(1) from $src1 group by key order by key limit 5"))
          .localCheckpoint(true)
        val f6 = {
          val got = HiveQl.sql(s, s"select distinct key from $src1 limit 10")
            .collect().map(_.getInt(0))
          facts(s, 6, Seq("distinct_cnt" -> got.length.toString,
            "distinct_unique" -> (got.distinct.length == got.length).toString,
            "distinct_member" -> got.forall(keys).toString))
        }
        val f7 = facts(s, 7, Seq("count_all" ->
          HiveQl.sql(s, s"select count(1) from $src1 limit 1")
            .collect()(0).getLong(0).toString))
        val f8 = {
          // the record's own terminator passes through tr untouched, so each
          // input yields 6 'a' lines + 1 EMPTY line (the reference golden's
          // shape: a×6, blank, a...)
          val got = HiveQl.sql(s, s"""select transform(*) using "tr _ \\n" as t from
            (select "a_a_a_a_a_a_" from $src1 limit 100) subq""").collect()
          facts(s, 8, Seq("transform_cnt" -> got.length.toString,
            "transform_a_cnt" -> got.count(_.getString(0) == "a").toString,
            "transform_empty_cnt" -> got.count(_.getString(0) == "").toString))
        }
        val f9 = member(9, "nested1",
          s"select key from (select * from (select key,value from $src1)t1 limit 10)t2 limit 2000", 10)
        val f10 = member(10, "nested2",
          s"select key from (select * from (select key,value from $src1 limit 10)t1 )t2", 10)
        val f11 = member(11, "nested3",
          s"select key from (select * from (select key,value from $src1)t1 limit 10)t2", 10)
        HiveQl.sql(s, s"insert overwrite table $tgt select key+1 from " +
          s"(select * from (select key,value from $src1)t1)t2 limit 10")
        val f12 = member(12, "insert_limit", s"select * from $tgt", 10, keys, 1)
        HiveQl.sql(s, s"create table $src2 (key int, value string) stored as textfile")
        val f13 = facts(s, 13, Seq("empty_cnt" ->
          HiveQl.sql(s, s"select key from $src2 limit 10").count().toString))
        HiveQl.sql(s, s"create table $part1 (key int, value string) " +
          "partitioned by (p string) stored as textfile")
        HiveQl.sql(s, s"load data local inpath '$RefData/srcbucket21.txt' " +
          s"INTO TABLE $part1 partition(p='11')")
        for (_ <- 1 to 3)
          HiveQl.sql(s, s"load data local inpath '$RefData/srcbucket20.txt' " +
            s"INTO TABLE $part1 partition(p='12')")
        val k21 = HiveQl.sql(s, s"select distinct key from $part1 where p='11'")
          .collect().map(_.getInt(0)).toSet
        val f14 = member(14, "p_like", s"select key from $part1 where p like '1%' limit 10", 10, keys ++ k21)
        val f15 = member(15, "p11", s"select key from $part1 where p='11' limit 10", 10, k21)
        val f16 = member(16, "p12", s"select key from $part1 where p='12' limit 10", 10)
        val f17 = facts(s, 17, Seq("p13_cnt" ->
          HiveQl.sql(s, s"select key from $part1 where p='13' limit 10").count().toString))
        HiveQl.sql(s, s"alter table $part1 add partition (p='13')")
        val f18 = facts(s, 18, Seq("p13_cnt2" ->
          HiveQl.sql(s, s"select key from $part1 where p='13' limit 10").count().toString))
        val f19 = facts(s, 19, Seq("p12_all" ->
          HiveQl.sql(s, s"select key from $part1 where p='12' limit 1000").count().toString))
        HiveQl.sql(s, "set hive.limit.optimize.enable=false")
        Seq(src1, src2, part1, tgt).foreach(t => HiveQl.sql(s, s"drop table $t"))
        val factsDfs = Seq(f0, f1, f2, f3, f4, f6, f7, f8, f9, f10, f11, f12,
          f13, f14, f15, f16, f17, f18, f19)
          .map(f => f.select(col("sec"), concat_ws("|", col("c1"), col("c2")).as("c1")))
        (factsDfs :+ d5).reduce(_ union _).orderBy("sec", "c1")
      },
      Some(s"""WITH s20 AS ${csv("srcbucket20")},
        gb AS (SELECT key, count(1) * 3 AS c FROM s20 GROUP BY key ORDER BY key LIMIT 5),
        legs AS (SELECT * FROM (VALUES
          (0, 'ctas1_cnt|1'), (0, 'ctas1_member|true'),
          (1, 'split20_cnt|20'), (2, 'limit30_cnt|30'),
          (3, 'limit100_cnt|100'), (3, 'limit100_member|true'),
          (4, 'limit30b_cnt|30'), (4, 'limit30b_member|true'),
          (6, 'distinct_cnt|10'), (6, 'distinct_member|true'), (6, 'distinct_unique|true'),
          (7, 'count_all|354'),
          (8, 'transform_a_cnt|600'), (8, 'transform_cnt|700'),
          (8, 'transform_empty_cnt|100'),
          (9, 'nested1_cnt|10'), (9, 'nested1_member|true'),
          (10, 'nested2_cnt|10'), (10, 'nested2_member|true'),
          (11, 'nested3_cnt|10'), (11, 'nested3_member|true'),
          (12, 'insert_limit_cnt|10'), (12, 'insert_limit_member|true'),
          (13, 'empty_cnt|0'),
          (14, 'p_like_cnt|10'), (14, 'p_like_member|true'),
          (15, 'p11_cnt|10'), (15, 'p11_member|true'),
          (16, 'p12_cnt|10'), (16, 'p12_member|true'),
          (17, 'p13_cnt|0'), (18, 'p13_cnt2|0'), (19, 'p12_all|354')) v(sec, c1)
          UNION ALL SELECT 5, concat_ws('|', CAST(key AS VARCHAR), CAST(c AS VARCHAR)) FROM gb)
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/merge_dynamic_partition2.q: static-ds + dynamic-hr
    //      insert from a many-small-files source under hive.merge.* — each
    //      produced partition merges to ONE file
    QueryDef(
      "q821_qf_merge_dynamic_partition2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val src = s"srcpart_merge_dp_q821_$sfx"
        val t = s"merge_dynamic_part_q821_$sfx"
        fresh(s, src, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, s"create table $src (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $src partition(ds='2008-04-08', hr=11)")
        for (f <- Seq("srcbucket0", "srcbucket1"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $src partition(ds='2008-04-08', hr=12)")
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, "set hive.merge.smallfiles.avgsize=3000")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2008-04-08', hr) " +
          s"select key, value, hr from $src where ds='2008-04-08'")
        HiveQl.sql(s, "set hive.merge.mapfiles=false")
        HiveQl.sql(s, "set hive.merge.mapredfiles=false")
        // the merge contract is conditional: a partition merges to ONE file
        // only when its average file size sits UNDER smallfiles.avgsize —
        // the written file count is task-dependent, so a partition that
        // lands a single >=3000B file stays legitimately unmerged
        val cat2 = s.sessionState.catalog
        val ti2 = s.sessionState.sqlParser.parseTableIdentifier(t)
        val fs2 = new org.apache.hadoop.fs.Path(
          cat2.getTableMetadata(ti2).location)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val mergedOk = cat2.listPartitions(ti2).forall { pt =>
          val fl = fs2.listStatus(new org.apache.hadoop.fs.Path(pt.location))
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
          fl.length == 1 || (fl.map(_.getLen).sum / fl.length) >= 3000
        }
        val f0 = facts(s, 0, Seq(
          "merged_or_above_threshold" -> mergedOk.toString,
          "rows_hr11" -> HiveQl.sql(s,
            s"select count(1) from $t where hr='11'").collect()(0).getLong(0).toString,
          "rows_hr12" -> HiveQl.sql(s,
            s"select count(1) from $t where hr='12'").collect()(0).getLong(0).toString))
        val d1 = leg(1, HiveQl.sql(s,
          s"select key, value, ds, hr from $t where hr='12'")).localCheckpoint(true)
        Seq(src, t).foreach(x => HiveQl.sql(s, s"drop table $x"))
        f0.select(col("sec"), concat_ws("|", col("c1"), col("c2")).as("c1"))
          .union(d1).orderBy("sec", "c1")
      },
      Some(s"""WITH sb AS (SELECT * FROM ${csv("srcbucket0")}
          UNION ALL SELECT * FROM ${csv("srcbucket1")}),
        legs AS (SELECT * FROM (VALUES
          (0, 'merged_or_above_threshold|true'), (0, 'rows_hr11|500'), (0, 'rows_hr12|1000')) v(sec, c1)
          UNION ALL ${legSql(1, Seq("key", "value", "d", "h"),
            "FROM (SELECT CAST(key AS VARCHAR) AS key, value, '2008-04-08' AS d, '12' AS h FROM sb) x")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/merge_dynamic_partition3.q: fully-dynamic (ds, hr)
    //      insert spanning two ds days × two hr each, merged per partition
    QueryDef(
      "q822_qf_merge_dynamic_partition3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val src = s"srcpart_merge_dp_q822_$sfx"
        val t = s"merge_dynamic_part_q822_$sfx"
        fresh(s, src, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, s"create table $src (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        for (hr <- Seq("11", "12"); f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $src partition(ds='2008-04-08', hr=$hr)")
        for (hr <- Seq("11", "12"); f <- Seq("kv1", "kv2"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $src partition(ds='2008-04-09', hr=$hr)")
        val parts = facts(s, 0,
          HiveQl.sql(s, s"show partitions $src").collect()
            .map(r => (r.getString(0), "present")).sorted)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, "set hive.merge.smallfiles.avgsize=3000")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds, hr) " +
          s"select key, value, ds, hr from $src where ds>='2008-04-08'")
        HiveQl.sql(s, "set hive.merge.mapfiles=false")
        HiveQl.sql(s, "set hive.merge.mapredfiles=false")
        val d1 = leg(1, HiveQl.sql(s, s"select ds, hr, count(1) from $t " +
          "where ds>='2008-04-08' group by ds, hr order by ds, hr"))
          .localCheckpoint(true)
        // the merge contract (reference golden totalNumberFiles:6): the
        // small-file 04-08 partitions merge to ONE file each; the 04-09
        // partitions (kv avg > smallfiles.avgsize) are left alone — their
        // pre-merge file count is writer-dependent, so pin only the
        // merged-to-one side and the above-threshold average
        val cat = s.sessionState.catalog
        val ti = s.sessionState.sqlParser.parseTableIdentifier(t)
        val fsys = new org.apache.hadoop.fs.Path(
          cat.getTableMetadata(ti).location)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def census(ds: String, hr: String): (Int, Long) = {
          val loc = new org.apache.hadoop.fs.Path(cat.listPartitions(ti,
            Some(Map("ds" -> ds, "hr" -> hr))).head.location)
          val fl = fsys.listStatus(loc).filter(st => st.isFile &&
            !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
          (fl.length, if (fl.isEmpty) 0L else fl.map(_.getLen).sum / fl.length)
        }
        val f2 = facts(s, 2, Seq(
          "merged_0408_11_files" -> census("2008-04-08", "11")._1.toString,
          "merged_0408_12_files" -> census("2008-04-08", "12")._1.toString,
          "unmerged_0409_11_above_avg" -> (census("2008-04-09", "11")._2 > 3000).toString,
          "unmerged_0409_12_above_avg" -> (census("2008-04-09", "12")._2 > 3000).toString))
        Seq(src, t).foreach(x => HiveQl.sql(s, s"drop table $x"))
        Seq(parts, f2).map(f => f.select(col("sec"),
          concat_ws("|", col("c1"), col("c2")).as("c1")))
          .reduce(_ union _).union(d1).orderBy("sec", "c1")
      },
      Some("""SELECT * FROM (VALUES
        (0, 'ds=2008-04-08/hr=11|present'), (0, 'ds=2008-04-08/hr=12|present'),
        (0, 'ds=2008-04-09/hr=11|present'), (0, 'ds=2008-04-09/hr=12|present'),
        (1, '2008-04-08|11|500'), (1, '2008-04-08|12|500'),
        (1, '2008-04-09|11|1000'), (1, '2008-04-09|12|1000'),
        (2, 'merged_0408_11_files|1'), (2, 'merged_0408_12_files|1'),
        (2, 'unmerged_0409_11_above_avg|true'),
        (2, 'unmerged_0409_12_above_avg|true')) v(sec, c1)
        ORDER BY sec, c1"""))
  )
}
