package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 13 (round 13): the smb_mapjoin family
  * (smb_mapjoin_1–8, 10) — sort-merge-bucket joins over the reference's own
  * pre-bucketed RCFile fixtures (smbbucket_*.rc, smb_bucket_input.rc) and
  * over bucketed tables built with hive.enforce.bucketing/sorting inserts.
  *
  * Result parity: the `.q`s' mapjoin hints select the join ALGORITHM, never
  * the rows — the graft engine maps hinted map joins to broadcast hash
  * joins (the scale-correct Spark shape for a small side; MapJoin hint shim,
  * HiveQl.scala) and full-outer legs to sort-merge joins. Bucket-layout
  * zero-exchange shapes are pinned separately (SqlDialectSpec q101,
  * QFileParity q170, PlanShapeSpec).
  *
  * Oracles mirror the fixture VALUES and re-run the same join legs in
  * DuckDB, so every leg's rows are independently recomputed, not
  * transcribed.
  */
object QFileParity13 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData}

  /** The smbbucket_{1,2,3}.txt fixture rows (fixtures ship as .rc; the .txt
    * twins are the reference's own plaintext of the same rows). */
  private val Smb1 = Seq(1 -> "val_1", 3 -> "val_3", 4 -> "val_4",
    5 -> "val_5", 10 -> "val_10")
  private val Smb2 = Seq(20 -> "val_20", 23 -> "val_23", 25 -> "val_25",
    30 -> "val_30")
  private val Smb3 = Seq(4 -> "val_4", 10 -> "val_10", 17 -> "val_17",
    19 -> "val_19", 20 -> "val_20", 23 -> "val_23")

  private def valuesCte(name: String, rows: Seq[(Int, String)]): String =
    s"$name(key, value) AS (VALUES ${rows.map { case (k, v) => s"($k,'$v')" }.mkString(",")})"

  /** Set up the three 1-bucket RCFile tables from the reference fixtures;
    * returns the per-SF suffix. */
  private def smbFixtures(s: SparkSession, dir: String): String = {
    val sfx = fixtures(s, dir)
    for (i <- 1 to 3) {
      val t = s"smb_bucket_${i}_$sfx"
      fresh(s, t)
      HiveQl.sql(s, s"create table $t(key int, value string) CLUSTERED BY (key) " +
        "SORTED BY (key) INTO 1 BUCKETS STORED AS RCFILE")
      HiveQl.sql(s,
        s"load data local inpath '$RefData/smbbucket_$i.rc' overwrite into table $t")
    }
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin.sortedmerge = true")
    sfx
  }

  private val JoinTypes = Seq("join", "left outer join", "right outer join",
    "full outer join")

  /** smb_mapjoin_1/2/3 shape: 4 join types × mapjoin(a)/mapjoin(b) over one
    * table pair — one UNION ALL statement, sec per leg. */
  private def pairLegs(left: String, right: String): String =
    (for ((h, hi) <- Seq("a", "b").zipWithIndex; (jt, ji) <- JoinTypes.zipWithIndex)
      yield s"""select /*+mapjoin($h)*/ ${hi * 4 + ji} as sec,
          a.key as k1, a.value as v1, b.key as k2, b.value as v2
        from $left a $jt $right b on a.key = b.key""").mkString(" union all ")

  private def pairOracle(l: Seq[(Int, String)], r: Seq[(Int, String)]): String = {
    val legs = (for (hi <- 0 to 1; (jt, ji) <- Seq("JOIN", "LEFT OUTER JOIN",
        "RIGHT OUTER JOIN", "FULL OUTER JOIN").zipWithIndex)
      yield s"""SELECT ${hi * 4 + ji} AS sec, a.key AS k1, a.value AS v1,
          b.key AS k2, b.value AS v2 FROM sl a $jt sr b ON a.key = b.key""")
      .mkString(" UNION ALL ")
    s"""WITH ${valuesCte("sl", l)}, ${valuesCte("sr", r)}
        SELECT * FROM ($legs) t
        ORDER BY sec, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST, v2 NULLS FIRST"""
  }

  /** smb_mapjoin_4/5 shape: 13 (first × second) join-type combos over the
    * three-table chain a-b-c. */
  private val TripleCombos: Seq[(String, String)] = Seq(
    ("join", "join"),
    ("left outer join", "join"),
    ("left outer join", "left outer join"),
    ("left outer join", "right outer join"),
    ("left outer join", "full outer join"),
    ("right outer join", "join"),
    ("right outer join", "left outer join"),
    ("right outer join", "right outer join"),
    ("right outer join", "full outer join"),
    ("full outer join", "join"),
    ("full outer join", "left outer join"),
    ("full outer join", "right outer join"),
    ("full outer join", "full outer join"))

  private def tripleLegs(hint: String, sfx: String): String =
    TripleCombos.zipWithIndex.map { case ((j1, j2), i) =>
      s"""select /*+mapjoin($hint)*/ $i as sec,
          a.key as k1, a.value as v1, b.key as k2, b.value as v2,
          c.key as k3, c.value as v3
        from smb_bucket_1_$sfx a $j1 smb_bucket_2_$sfx b on a.key = b.key
          $j2 smb_bucket_3_$sfx c on b.key = c.key"""
    }.mkString(" union all ")

  private def tripleOracle: String = {
    val legs = TripleCombos.zipWithIndex.map { case ((j1, j2), i) =>
      s"""SELECT $i AS sec, a.key AS k1, a.value AS v1, b.key AS k2,
          b.value AS v2, c.key AS k3, c.value AS v3
        FROM s1 a ${j1.toUpperCase} s2 b ON a.key = b.key
          ${j2.toUpperCase} s3 c ON b.key = c.key"""
    }.mkString(" UNION ALL ")
    s"""WITH ${valuesCte("s1", Smb1)}, ${valuesCte("s2", Smb2)}, ${valuesCte("s3", Smb3)}
        SELECT * FROM ($legs) t
        ORDER BY sec, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
          v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST"""
  }

  private def orderedPair(df: DataFrame): DataFrame =
    df.orderBy("sec", "k1", "v1", "k2", "v2")

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/smb_mapjoin_1.q: smb_bucket_1 ⋈ smb_bucket_2
    //      (disjoint key sets) under all four join types × both hints
    QueryDef(
      "q625_qf_smb_mapjoin_1",
      (s, dir) => {
        val sfx = smbFixtures(s, dir)
        orderedPair(HiveQl.sql(s,
          pairLegs(s"smb_bucket_1_$sfx", s"smb_bucket_2_$sfx")))
      },
      Some(pairOracle(Smb1, Smb2))),

    // ---- clientpositive/smb_mapjoin_2.q: smb_bucket_1 ⋈ smb_bucket_3
    //      (keys 4 and 10 shared)
    QueryDef(
      "q626_qf_smb_mapjoin_2",
      (s, dir) => {
        val sfx = smbFixtures(s, dir)
        orderedPair(HiveQl.sql(s,
          pairLegs(s"smb_bucket_1_$sfx", s"smb_bucket_3_$sfx")))
      },
      Some(pairOracle(Smb1, Smb3))),

    // ---- clientpositive/smb_mapjoin_3.q: smb_bucket_2 ⋈ smb_bucket_3
    //      (keys 20 and 23 shared)
    QueryDef(
      "q627_qf_smb_mapjoin_3",
      (s, dir) => {
        val sfx = smbFixtures(s, dir)
        orderedPair(HiveQl.sql(s,
          pairLegs(s"smb_bucket_2_$sfx", s"smb_bucket_3_$sfx")))
      },
      Some(pairOracle(Smb2, Smb3))),

    // ---- clientpositive/smb_mapjoin_4.q: the three-table chain under all
    //      13 type combos, small sides hinted mapjoin(a,b)
    QueryDef(
      "q628_qf_smb_mapjoin_4",
      (s, dir) => {
        val sfx = smbFixtures(s, dir)
        HiveQl.sql(s, tripleLegs("a,b", sfx))
          .orderBy("sec", "k1", "v1", "k2", "v2", "k3", "v3")
      },
      Some(tripleOracle)),

    // ---- clientpositive/smb_mapjoin_5.q: same chain, mapjoin(a,c) — the
    //      hint set changes the reference's plan, never the rows
    QueryDef(
      "q629_qf_smb_mapjoin_5",
      (s, dir) => {
        val sfx = smbFixtures(s, dir)
        HiveQl.sql(s, tripleLegs("a,c", sfx))
          .orderBy("sec", "k1", "v1", "k2", "v2", "k3", "v3")
      },
      Some(tripleOracle)),

    // ---- clientpositive/smb_mapjoin_6.q: 2-bucket sorted tables BUILT by
    //      inserts under hive.enforce.bucketing/sorting; smb result vs the
    //      plain shuffle join result must agree (the .q's sum(hash(..))
    //      cross-check), plus the key>1000 empty-range legs
    QueryDef(
      "q630_qf_smb_mapjoin_6",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"smb_bucket4_1_$sfx", s"smb_bucket4_2_$sfx")
        val (smb, normal) = (s"smb_join_results_$sfx", s"normal_join_results_$sfx")
        fresh(s, t1, t2, smb, normal)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        HiveQl.sql(s, s"CREATE TABLE $t1(key int, value string) CLUSTERED BY (key) " +
          "SORTED BY (key) INTO 2 BUCKETS STORED AS RCFILE")
        HiveQl.sql(s, s"CREATE TABLE $t2(key int, value string) CLUSTERED BY (key) " +
          "SORTED BY (key) INTO 2 BUCKETS STORED AS RCFILE")
        HiveQl.sql(s, s"create table $smb(k1 int, v1 string, k2 int, v2 string)")
        HiveQl.sql(s, s"create table $normal(k1 int, v1 string, k2 int, v2 string)")
        HiveQl.sql(s, s"insert overwrite table $t1 select * from src")
        HiveQl.sql(s, s"insert overwrite table $t2 select * from src")
        HiveQl.sql(s, s"insert overwrite table $smb " +
          s"select /*+mapjoin(a)*/ * from $t1 a join $t2 b on a.key = b.key")
        val dump = HiveQl.sql(s,
          s"select 0 as sec, k1, v1, k2, v2 from $smb").localCheckpoint(true)
        HiveQl.sql(s, s"insert overwrite table $normal " +
          s"select * from $t1 a join $t2 b on a.key = b.key")
        // the .q's cross-check: sum(hash(col)) agrees between the smb and
        // the shuffle join result, column by column
        val eq = HiveQl.sql(s,
          s"""select 1 as sec,
              cast((select sum(hash(k1)) + sum(hash(v1)) + sum(hash(k2)) + sum(hash(v2)) from $smb)
                 = (select sum(hash(k1)) + sum(hash(v1)) + sum(hash(k2)) + sum(hash(v2)) from $normal)
                as int) as k1,
              cast(null as string) as v1, cast(null as int) as k2,
              cast(null as string) as v2""").localCheckpoint(true)
        HiveQl.sql(s, s"insert overwrite table $smb select /*+mapjoin(a)*/ * " +
          s"from $t1 a join $t2 b on a.key = b.key where a.key > 1000")
        val empty = HiveQl.sql(s,
          s"""select 2 as sec, cast(count(*) as int) as k1,
              cast(null as string) as v1, cast(null as int) as k2,
              cast(null as string) as v2 from $smb""").localCheckpoint(true)
        val tri = HiveQl.sql(s,
          s"""select 3 as sec, cast(count(*) as int) as k1,
              cast(null as string) as v1, cast(null as int) as k2,
              cast(null as string) as v2
            from (select /*+mapjoin(b,c)*/ a.key from $t1 a
              join $t2 b on a.key = b.key join $t2 c on b.key = c.key
              where a.key > 1000) t""").localCheckpoint(true)
        Seq(dump, eq, empty, tri).reduce(_ union _)
          .orderBy("sec", "k1", "v1", "k2", "v2")
      },
      Some(s"""$SrcCte,
          srci AS (SELECT CAST(key AS INT) AS k, value FROM src),
          legs AS (
            SELECT 0 AS sec, a.k AS k1, a.value AS v1, b.k AS k2, b.value AS v2
            FROM srci a JOIN srci b ON a.k = b.k
            UNION ALL SELECT 1, 1, NULL, NULL, NULL
            UNION ALL SELECT 2, 0, NULL, NULL, NULL
            UNION ALL SELECT 3, 0, NULL, NULL, NULL)
          SELECT * FROM legs
          ORDER BY sec, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST, v2 NULLS FIRST""")),

    // ---- clientpositive/smb_mapjoin_7.q: FULL OUTER where the big table
    //      is EMPTY (two zero-byte loads) — every result row is null-padded
    //      on the a side; smb and shuffle paths must agree
    QueryDef(
      "q631_qf_smb_mapjoin_7",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"smb_bucket4_1e_$sfx", s"smb_bucket4_2e_$sfx")
        val (smb, normal) = (s"smb_jr7_$sfx", s"normal_jr7_$sfx")
        fresh(s, t1, t2, smb, normal)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        HiveQl.sql(s, s"CREATE TABLE $t1(key int, value string) CLUSTERED BY (key) " +
          "SORTED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"CREATE TABLE $t2(key int, value string) CLUSTERED BY (key) " +
          "SORTED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"create table $smb(k1 int, v1 string, k2 int, v2 string)")
        HiveQl.sql(s, s"create table $normal(k1 int, v1 string, k2 int, v2 string)")
        HiveQl.sql(s, s"load data local inpath '$RefData/empty1.txt' into table $t1")
        HiveQl.sql(s, s"load data local inpath '$RefData/empty2.txt' into table $t1")
        HiveQl.sql(s, s"insert overwrite table $t2 select * from src")
        HiveQl.sql(s, s"insert overwrite table $smb select /*+mapjoin(b)*/ * " +
          s"from $t1 a full outer join $t2 b on a.key = b.key")
        val dump = HiveQl.sql(s,
          s"select 0 as sec, k1, v1, k2, v2 from $smb").localCheckpoint(true)
        HiveQl.sql(s, s"insert overwrite table $normal select * " +
          s"from $t1 a full outer join $t2 b on a.key = b.key")
        val eq = HiveQl.sql(s,
          s"""select 1 as sec,
              cast((select count(*) from $smb) as int) as k1,
              cast(null as string) as v1,
              cast((select count(*) from $normal) as int) as k2,
              cast(null as string) as v2""")
        dump.union(eq).orderBy("sec", "k1", "v1", "k2", "v2")
      },
      Some(s"""$SrcCte,
          legs AS (
            SELECT 0 AS sec, CAST(NULL AS INT) AS k1, CAST(NULL AS VARCHAR) AS v1,
              CAST(key AS INT) AS k2, value AS v2 FROM src
            UNION ALL SELECT 1, (SELECT CAST(count(*) AS INT) FROM src), NULL,
              (SELECT CAST(count(*) AS INT) FROM src), NULL)
          SELECT * FROM legs
          ORDER BY sec, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST, v2 NULLS FIRST""")),

    // ---- clientpositive/smb_mapjoin_8.q: the staged FULL OUTER battery
    //      over smb_bucket_input.rc subsets — match/unmatch on every side,
    //      incl. three-way chains and an empty-bucket leg (key=00000)
    QueryDef(
      "q632_qf_smb_mapjoin_8",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val in = s"smb_bucket_input_$sfx"
        val (t1, t2, t3) = (s"smb_b8_1_$sfx", s"smb_b8_2_$sfx", s"smb_b8_3_$sfx")
        fresh(s, in, t1, t2, t3)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        HiveQl.sql(s, s"create table $in (key int, value string) stored as rcfile")
        HiveQl.sql(s,
          s"load data local inpath '$RefData/smb_bucket_input.rc' into table $in")
        for (t <- Seq(t1, t2, t3))
          HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
            "SORTED BY (key) INTO 1 BUCKETS")
        def fill(t: String, pred: String): Unit =
          HiveQl.sql(s, s"insert overwrite table $t select * from $in where $pred")
        def pair(sec: Int, hint: String): DataFrame =
          HiveQl.sql(s,
            s"""select /*+mapjoin($hint)*/ $sec as sec, a.key as k1, a.value as v1,
                b.key as k2, b.value as v2, cast(null as int) as k3,
                cast(null as string) as v3
              from $t1 a full outer join $t2 b on a.key = b.key""").localCheckpoint(true)
        def triple(sec: Int): DataFrame =
          HiveQl.sql(s,
            s"""select /*+mapjoin(b,c)*/ $sec as sec, a.key as k1, a.value as v1,
                b.key as k2, b.value as v2, c.key as k3, c.value as v3
              from $t1 a full outer join $t2 b on a.key = b.key
                full outer join $t3 c on a.key = c.key""").localCheckpoint(true)
        val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
        fill(t1, "key=4 or key=2000 or key=4000")
        fill(t2, "key=484 or key=3000 or key=5000")
        out += pair(0, "a"); out += pair(1, "b")
        fill(t1, "key=2000 or key=4000"); fill(t2, "key=3000 or key=5000")
        out += pair(2, "a"); out += pair(3, "b")
        fill(t1, "key=4000"); fill(t2, "key=5000")
        out += pair(4, "a"); out += pair(5, "b")
        fill(t1, "key=1000 or key=4000"); fill(t2, "key=1000 or key=5000")
        out += pair(6, "a"); out += pair(7, "b")
        fill(t3, "key=1000 or key=5000")
        out += triple(8)
        fill(t3, "key=1000 or key=4000")
        out += triple(9)
        fill(t1, "key=4000"); fill(t2, "key=5000"); fill(t3, "key=4000")
        out += triple(10)
        fill(t1, "key=00000"); fill(t2, "key=4000"); fill(t3, "key=5000")
        out += triple(11)
        fill(t1, "key=1000"); fill(t2, "key=4000"); fill(t3, "key=5000")
        out += triple(12)
        out.reduce(_ union _)
          .orderBy("sec", "k1", "v1", "k2", "v2", "k3", "v3")
      },
      Some {
        val input = valuesCte("input", Seq(4 -> "val_356", 484 -> "val_169",
          1000 -> "val_1000", 2000 -> "val_169", 3000 -> "val_169",
          4000 -> "val_125", 5000 -> "val_125"))
        def sub(pred: String) = s"(SELECT * FROM input WHERE $pred)"
        def pairLeg(sec: Int, p1: String, p2: String) =
          s"""SELECT $sec AS sec, a.key AS k1, a.value AS v1, b.key AS k2,
              b.value AS v2, CAST(NULL AS INT) AS k3, CAST(NULL AS VARCHAR) AS v3
            FROM ${sub(p1)} a FULL OUTER JOIN ${sub(p2)} b ON a.key = b.key"""
        def tripleLeg(sec: Int, p1: String, p2: String, p3: String) =
          s"""SELECT $sec, a.key, a.value, b.key, b.value, c.key, c.value
            FROM ${sub(p1)} a FULL OUTER JOIN ${sub(p2)} b ON a.key = b.key
              FULL OUTER JOIN ${sub(p3)} c ON a.key = c.key"""
        val legs = Seq(
          pairLeg(0, "key IN (4,2000,4000)", "key IN (484,3000,5000)"),
          pairLeg(1, "key IN (4,2000,4000)", "key IN (484,3000,5000)"),
          pairLeg(2, "key IN (2000,4000)", "key IN (3000,5000)"),
          pairLeg(3, "key IN (2000,4000)", "key IN (3000,5000)"),
          pairLeg(4, "key IN (4000)", "key IN (5000)"),
          pairLeg(5, "key IN (4000)", "key IN (5000)"),
          pairLeg(6, "key IN (1000,4000)", "key IN (1000,5000)"),
          pairLeg(7, "key IN (1000,4000)", "key IN (1000,5000)"),
          tripleLeg(8, "key IN (1000,4000)", "key IN (1000,5000)", "key IN (1000,5000)"),
          tripleLeg(9, "key IN (1000,4000)", "key IN (1000,5000)", "key IN (1000,4000)"),
          tripleLeg(10, "key IN (4000)", "key IN (5000)", "key IN (4000)"),
          tripleLeg(11, "key IN (0)", "key IN (4000)", "key IN (5000)"),
          tripleLeg(12, "key IN (1000)", "key IN (4000)", "key IN (5000)"))
          .mkString(" UNION ALL ")
        s"""WITH $input
            SELECT * FROM ($legs) t
            ORDER BY sec, k1 NULLS FIRST, v1 NULLS FIRST, k2 NULLS FIRST,
              v2 NULLS FIRST, k3 NULLS FIRST, v3 NULLS FIRST"""
      }),

    // ---- clientpositive/smb_mapjoin_10.q: partitioned bucketed self-join
    //      whose ON pins each side to a DIFFERENT (empty) partition — the
    //      multi-column sorted spec (pageid, postid, type, userid) parses
    //      and the join returns zero rows
    QueryDef(
      "q633_qf_smb_mapjoin_10",
      (s, dir) => {
        val t = s"tmp_smb_bucket_10_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(userid int, pageid int, postid int, " +
          "type string) partitioned by (ds string) CLUSTERED BY (userid) " +
          "SORTED BY (pageid, postid, type, userid) INTO 2 BUCKETS STORED AS RCFILE")
        HiveQl.sql(s, s"alter table $t add partition (ds = '1')")
        HiveQl.sql(s, s"alter table $t add partition (ds = '2')")
        HiveQl.sql(s,
          s"""select count(*) as cnt from (
              select /*+mapjoin(a)*/ a.* from $t a join $t b
              on (a.ds = '1' and b.ds = '2' and
                  a.userid = b.userid and a.pageid = b.pageid and
                  a.postid = b.postid and a.type = b.type)) t""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS cnt"))
  )
}
