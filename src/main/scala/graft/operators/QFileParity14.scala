package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 14 (round 13): bucket-layout families —
  * bucketmapjoin1–6 (bucketed map joins cross-checked against the shuffle
  * join under the same hint), bucket1–4 (enforce.bucketing writes +
  * ON-less bucket TABLESAMPLE), sample1–7 (the srcbucket/srcbucket2
  * sampling battery incl. Hive's FILE-level bucket pruning — srcbucket2's
  * fixture files are bucketed by the STRING hash of an INT column, so the
  * golden rows are file contents, not value-hash rows; HiveQl
  * resolveBucketFileSampling reproduces that).
  *
  * Oracles recompute every leg from the fixture files via read_csv — no
  * transcribed row values.
  */
object QFileParity14 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, RefData, csv}

  /** DuckDB CTEs for the srcbucket (2 buckets: files 0,1) and srcbucket2
    * (4 buckets: files 20–23) fixture tables. */
  private val SrcBucketCtes =
    s"""srcb AS (SELECT * FROM ${csv("srcbucket0")} UNION ALL SELECT * FROM ${csv("srcbucket1")}),
        srcb2 AS (SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}
          UNION ALL SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")})"""

  /** QTestUtil's srcbucket/srcbucket2 (QTestUtil.java:460-468): bucketed
    * TEXTFILE tables loaded from the pre-bucketed fixture files. */
  private def srcbucketFixtures(s: SparkSession, dir: String): String = {
    val sfx = fixtures(s, dir)
    val sb = s"srcbucket_$sfx"
    // ALWAYS rebuilt: q147_qf_sample2 overwrites a same-named table with a
    // 500-row parquet variant, so trusting tableExists makes the sample
    // family order-dependent (bit a subset run in round 15)
    fresh(s, sb)
    HiveQl.sql(s, s"CREATE TABLE $sb(key int, value string) CLUSTERED BY (key) " +
      "INTO 2 BUCKETS STORED AS TEXTFILE")
    for (f <- Seq("srcbucket0", "srcbucket1"))
      HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $sb")
    val sb2 = s"srcbucket2_$sfx"
    if (!s.catalog.tableExists(sb2)) {
      fresh(s, sb2)
      HiveQl.sql(s, s"CREATE TABLE $sb2(key int, value string) CLUSTERED BY (key) " +
        "INTO 4 BUCKETS STORED AS TEXTFILE")
      for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
        HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $sb2")
    }
    sfx
  }

  /** The bucketmapjoin1–5 fixture triple (srcbucket_mapjoin 2 buckets,
    * _part 4-bucket partitioned, _part_2 2-bucket partitioned). */
  private def bmjFixtures(s: SparkSession, dir: String, tag: String,
      twoDays: Boolean = false): (String, String, String) = {
    val sfx = fixtures(s, dir)
    val (a, p, p2) = (s"srcb_mj_${tag}_$sfx", s"srcb_mjp_${tag}_$sfx",
      s"srcb_mjp2_${tag}_$sfx")
    fresh(s, a, p, p2)
    HiveQl.sql(s, s"CREATE TABLE $a(key int, value string) CLUSTERED BY (key) " +
      "INTO 2 BUCKETS STORED AS TEXTFILE")
    for (f <- Seq("srcbucket20", "srcbucket21"))
      HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' INTO TABLE $a")
    HiveQl.sql(s, s"CREATE TABLE $p (key int, value string) partitioned by (ds string) " +
      "CLUSTERED BY (key) INTO 4 BUCKETS STORED AS TEXTFILE")
    HiveQl.sql(s, s"CREATE TABLE $p2 (key int, value string) partitioned by (ds string) " +
      "CLUSTERED BY (key) INTO 2 BUCKETS STORED AS TEXTFILE")
    val days = if (twoDays) Seq("2008-04-08", "2008-04-09") else Seq("2008-04-08")
    for (ds <- days) {
      for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
        HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
          s"INTO TABLE $p partition(ds='$ds')")
      for (f <- Seq("srcbucket22", "srcbucket23"))
        HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
          s"INTO TABLE $p2 partition(ds='$ds')")
    }
    (a, p, p2)
  }

  /** The bucketmapjoin .q skeleton: join under bucketmapjoin=true (dump +
    * count + hash into h1), =false (hash into h2), the on/off diff row,
    * then the other hint's diff — one DataFrame with sec-tagged rows. */
  private def bmjRun(s: SparkSession, tag: String, sfx: String,
      joinFrom: String => String): DataFrame = {
    val (tmp, h1, h2) = (s"bmj_tmp_${tag}_$sfx", s"bmj_h1_${tag}_$sfx",
      s"bmj_h2_${tag}_$sfx")
    fresh(s, tmp, h1, h2)
    HiveQl.sql(s, s"create table $tmp (key string, value1 string, value2 string)")
    HiveQl.sql(s, s"create table $h1 (key bigint, value1 bigint, value2 bigint)")
    HiveQl.sql(s, s"create table $h2 (key bigint, value1 bigint, value2 bigint)")
    def insertTmp(hint: String): Unit =
      HiveQl.sql(s, s"insert overwrite table $tmp ${joinFrom(hint)}")
    def hashInto(t: String): Unit =
      HiveQl.sql(s, s"insert overwrite table $t select sum(hash(key)), " +
        s"sum(hash(value1)), sum(hash(value2)) from $tmp")
    def diffRow(sec: Int): DataFrame =
      HiveQl.sql(s,
        s"""select $sec as sec, cast(a.key - b.key as string) as key,
            cast(a.value1 - b.value1 as string) as value1,
            cast(a.value2 - b.value2 as string) as value2
          from $h1 a left outer join $h2 b on a.key = b.key""").localCheckpoint(true)
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
    insertTmp("b")
    val dump = HiveQl.sql(s,
      s"select 0 as sec, key, value1, value2 from $tmp").localCheckpoint(true)
    val cnt = HiveQl.sql(s,
      s"""select 1 as sec, cast(count(1) as string) as key,
          cast(null as string) as value1, cast(null as string) as value2
        from $tmp""").localCheckpoint(true)
    hashInto(h1)
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin = false")
    insertTmp("b"); hashInto(h2)
    val d1 = diffRow(2)
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin = true")
    insertTmp("a"); hashInto(h1)
    HiveQl.sql(s, "set hive.optimize.bucketmapjoin = false")
    insertTmp("a"); hashInto(h2)
    val d2 = diffRow(3)
    Seq(dump, cnt, d1, d2).reduce(_ union _)
      .orderBy("sec", "key", "value1", "value2")
  }

  /** Oracle twin of [[bmjRun]]: recompute the dump and count from the
    * fixture CTEs. The on/off diffs are 0,0,0 by the .q's own contract —
    * except over an EMPTY join, where sum(hash(..)) is NULL on both sides
    * and the diff row is NULL,NULL,NULL (bucketmapjoin2.q.out golden:
    * count=0 and a NULL diff row — srcbucket20/21 and srcbucket22/23 hold
    * DISJOINT key sets, they're string-hash bucket files). */
  private def bmjOracle(dumpFrom: String): String =
    s"""WITH $SrcBucketCtes,
        dump AS (SELECT CAST(a.key AS VARCHAR) AS key, a.value AS value1,
                        b.value AS value2 FROM $dumpFrom),
        z AS (SELECT CASE WHEN (SELECT count(*) FROM dump) > 0 THEN '0' END AS d),
        legs AS (
          SELECT 0 AS sec, key, value1, value2 FROM dump
          UNION ALL SELECT 1, CAST((SELECT count(*) FROM dump) AS VARCHAR), NULL, NULL
          UNION ALL SELECT 2, d, d, d FROM z
          UNION ALL SELECT 3, d, d, d FROM z)
        SELECT * FROM legs
        ORDER BY sec, key NULLS FIRST, value1 NULLS FIRST, value2 NULLS FIRST"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/bucketmapjoin1.q: 2-bucket × 4-bucket partitioned
    //      join, WHERE partition filter, bucketmapjoin on/off cross-check
    QueryDef(
      "q634_qf_bucketmapjoin1",
      (s, dir) => {
        val (a, p, _) = bmjFixtures(s, dir, "b1")
        bmjRun(s, "b1", fixtures(s, dir), h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $a a join $p b on a.key=b.key where b.ds="2008-04-08"""")
      },
      Some(bmjOracle(
        s"""(SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}) a
           JOIN srcb2 b ON a.key = b.key"""))),

    // ---- clientpositive/bucketmapjoin2.q: 2-bucket × 2-bucket partitioned
    //      (partition filter inside the ON clause)
    QueryDef(
      "q635_qf_bucketmapjoin2",
      (s, dir) => {
        val (a, _, p2) = bmjFixtures(s, dir, "b2")
        bmjRun(s, "b2", fixtures(s, dir), h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $a a join $p2 b on a.key=b.key and b.ds="2008-04-08"""")
      },
      Some(bmjOracle(
        s"""(SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}) a
           JOIN (SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")}) b
           ON a.key = b.key"""))),

    // ---- clientpositive/bucketmapjoin3.q: partitioned × partitioned with
    //      both partition filters in the ON clause
    QueryDef(
      "q636_qf_bucketmapjoin3",
      (s, dir) => {
        val (_, p, p2) = bmjFixtures(s, dir, "b3")
        bmjRun(s, "b3", fixtures(s, dir), h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $p2 a join $p b on a.key=b.key and b.ds="2008-04-08" and a.ds="2008-04-08"""")
      },
      Some(bmjOracle(
        s"""(SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")}) a
           JOIN srcb2 b ON a.key = b.key"""))),

    // ---- clientpositive/bucketmapjoin4.q: bucketed self-join
    QueryDef(
      "q637_qf_bucketmapjoin4",
      (s, dir) => {
        val (a, _, _) = bmjFixtures(s, dir, "b4")
        bmjRun(s, "b4", fixtures(s, dir), h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $a a join $a b on a.key=b.key""")
      },
      Some(bmjOracle(
        s"""(SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}) a
           JOIN (SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")}) b
           ON a.key = b.key"""))),

    // ---- clientpositive/bucketmapjoin5.q: TWO-day partitioned targets (no
    //      partition filter: the join reads both partitions of each side)
    QueryDef(
      "q638_qf_bucketmapjoin5",
      (s, dir) => {
        val (a, p, p2) = bmjFixtures(s, dir, "b5", twoDays = true)
        val sfx = fixtures(s, dir)
        val leg1 = bmjRun(s, "b5x", sfx, h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $a a join $p b on a.key=b.key""")
        val leg2 = bmjRun(s, "b5y", sfx, h =>
          s"""select /*+mapjoin($h)*/ a.key, a.value, b.value
            from $a a join $p2 b on a.key=b.key""")
        leg1.select(lit(0).as("leg"), col("sec"), col("key"), col("value1"), col("value2"))
          .union(leg2.select(lit(1).as("leg"), col("sec"), col("key"),
            col("value1"), col("value2")))
          .orderBy("leg", "sec", "key", "value1", "value2")
      },
      Some {
        val ab = s"""(SELECT * FROM ${csv("srcbucket20")} UNION ALL SELECT * FROM ${csv("srcbucket21")})"""
        val both = "(SELECT * FROM srcb2 UNION ALL SELECT * FROM srcb2)"
        val p2both = s"""(SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")}
           UNION ALL SELECT * FROM ${csv("srcbucket22")} UNION ALL SELECT * FROM ${csv("srcbucket23")})"""
        s"""WITH $SrcBucketCtes,
            d0 AS (SELECT CAST(a.key AS VARCHAR) AS key, a.value AS value1, b.value AS value2
                   FROM $ab a JOIN $both b ON a.key = b.key),
            d1 AS (SELECT CAST(a.key AS VARCHAR) AS key, a.value AS value1, b.value AS value2
                   FROM $ab a JOIN $p2both b ON a.key = b.key),
            z0 AS (SELECT CASE WHEN (SELECT count(*) FROM d0) > 0 THEN '0' END AS d),
            z1 AS (SELECT CASE WHEN (SELECT count(*) FROM d1) > 0 THEN '0' END AS d),
            legs AS (
              SELECT 0 AS leg, 0 AS sec, key, value1, value2 FROM d0
              UNION ALL SELECT 0, 1, CAST((SELECT count(*) FROM d0) AS VARCHAR), NULL, NULL
              UNION ALL SELECT 0, 2, d, d, d FROM z0
              UNION ALL SELECT 0, 3, d, d, d FROM z0
              UNION ALL SELECT 1, 0, key, value1, value2 FROM d1
              UNION ALL SELECT 1, 1, CAST((SELECT count(*) FROM d1) AS VARCHAR), NULL, NULL
              UNION ALL SELECT 1, 2, d, d, d FROM z1
              UNION ALL SELECT 1, 3, d, d, d FROM z1)
            SELECT * FROM legs ORDER BY leg, sec, key NULLS FIRST,
              value1 NULLS FIRST, value2 NULLS FIRST"""
      }),

    // ---- clientpositive/bucketmapjoin6.q: sorted 10-bucket tables built
    //      by enforce.bucketing inserts; the SMB map join lands in a third
    //      bucketed table and dumps ordered
    QueryDef(
      "q639_qf_bucketmapjoin6",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3) = (s"bmj6_tmp1_$sfx", s"bmj6_tmp2_$sfx", s"bmj6_tmp3_$sfx")
        fresh(s, t1, t2, t3)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        for (t <- Seq(t1, t2))
          HiveQl.sql(s, s"create table $t (a string, b string) clustered by (a) " +
            "sorted by (a) into 10 buckets")
        HiveQl.sql(s, s"insert overwrite table $t1 select * from src where key < 50")
        HiveQl.sql(s, s"insert overwrite table $t2 select * from src where key < 50")
        HiveQl.sql(s, s"create table $t3 (a string, b string, c string) " +
          "clustered by (a) sorted by (a) into 10 buckets")
        HiveQl.sql(s,
          s"""insert overwrite table $t3
            select /*+ MAPJOIN(l) */ i.a, i.b, l.b
            from $t1 i join $t2 l ON i.a = l.a""")
        HiveQl.sql(s, s"select * from $t3 order by a, b, c")
      },
      Some(s"""$SrcCte,
          f AS (SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) < 50)
          SELECT i.key AS a, i.value AS b, l.value AS c
          FROM f i JOIN f l ON i.key = l.key ORDER BY a, b, c""")),

    // ---- clientpositive/bucket1.q: 100-bucket enforce.bucketing write,
    //      full dump
    QueryDef(
      "q640_qf_bucket1",
      (s, dir) => {
        val t = s"bucket1_1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
          "INTO 100 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        HiveQl.sql(s, s"select * from $t order by key, value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value FROM src
          ORDER BY key, value""")),

    // ---- clientpositive/bucket2.q: ON-less bucket TABLESAMPLE over an
    //      engine-written 2-bucket table — value-hash semantics (the files
    //      are hash-clean by construction, so predicate == file contents)
    QueryDef(
      "q641_qf_bucket2",
      (s, dir) => {
        val t = s"bucket2_1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        HiveQl.sql(s, s"select * from $t tablesample (bucket 1 out of 2) s " +
          "order by key, value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value FROM src
          WHERE CAST(key AS INT) % 2 = 0 ORDER BY key, value""")),

    // ---- clientpositive/bucket3.q: same sample over ONE partition of a
    //      partitioned bucketed table
    QueryDef(
      "q642_qf_bucket3",
      (s, dir) => {
        val t = s"bucket3_1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) partitioned by (ds string) " +
          "CLUSTERED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='1') select * from src")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2') select * from src")
        HiveQl.sql(s, s"select * from $t tablesample (bucket 1 out of 2) s " +
          "where ds = '1' order by key, value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value, '1' AS ds FROM src
          WHERE CAST(key AS INT) % 2 = 0 ORDER BY key, value""")),

    // ---- clientpositive/bucket4.q: sorted buckets + the same sample (the
    //      .q has no ORDER BY; ordered here for determinism only)
    QueryDef(
      "q643_qf_bucket4",
      (s, dir) => {
        val t = s"bucket4_1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, "set hive.enforce.sorting = true")
        HiveQl.sql(s, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
          "SORTED BY (key) INTO 2 BUCKETS")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        HiveQl.sql(s, s"select * from $t tablesample (bucket 1 out of 2) s")
          .orderBy("key", "value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value FROM src
          WHERE CAST(key AS INT) % 2 = 0 ORDER BY key, value""")),

    // ---- clientpositive/sample1.q: BUCKET 1 OUT OF 1 ON rand() is the
    //      degenerate full sample of one srcpart partition
    QueryDef(
      "q644_qf_sample1",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val d = s"sample1_dest_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING, dt STRING, hr STRING) " +
          "STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d SELECT s.*
            FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1 ON rand()) s
            WHERE s.ds='2008-04-08' and s.hr='11'""")
        val dump = HiveQl.sql(s,
          s"select 0 as sec, key, value, dt, hr from $d").localCheckpoint(true)
        val cnt = HiveQl.sql(s,
          s"""select 1 as sec, cast(count(1) as int) as key,
              cast(null as string) as value, cast(null as string) as dt,
              cast(null as string) as hr from srcbucket_$sfx""")
        dump.union(cnt).orderBy("sec", "key", "value", "dt", "hr")
      },
      Some(s"""$SrcPartCte, $SrcBucketCtes,
          legs AS (
            SELECT 0 AS sec, CAST(key AS INT) AS key, value, ds AS dt, hr
            FROM srcpart WHERE ds='2008-04-08' AND hr='11'
            UNION ALL SELECT 1, (SELECT CAST(count(*) AS INT) FROM srcb), NULL, NULL, NULL)
          SELECT * FROM legs ORDER BY sec, key NULLS FIRST, value NULLS FIRST,
            dt NULLS FIRST, hr NULLS FIRST""")),

    // ---- clientpositive/sample2.q: ON-less BUCKET 1 OUT OF 2 over the
    //      LOADED srcbucket — Hive prunes to the first bucket FILE
    //      (srcbucket0.txt; its rows are hash-clean so file == predicate)
    QueryDef(
      "q645_qf_sample2",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val d = s"sample2_dest_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 2) s")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""SELECT key, value FROM ${csv("srcbucket0")} ORDER BY key, value""")),

    // ---- clientpositive/sample3.q: BUCKET 1 OUT OF 5 on key — 5 does not
    //      divide the 2-bucket layout, so this is the value-hash filter
    QueryDef(
      "q646_qf_sample3",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        HiveQl.sql(s, s"SELECT s.key FROM srcbucket_$sfx " +
          "TABLESAMPLE (BUCKET 1 OUT OF 5 on key) s").orderBy("key")
      },
      Some(s"""WITH $SrcBucketCtes
          SELECT key FROM srcb WHERE key % 5 = 0 ORDER BY key""")),

    // ---- clientpositive/sample4.q: BUCKET 1 OUT OF 2 on key == the bucket
    //      column at the bucket count — file-pruned to srcbucket0.txt
    QueryDef(
      "q647_qf_sample4",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val d = s"sample4_dest_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""SELECT key, value FROM ${csv("srcbucket0")} ORDER BY key, value""")),

    // ---- clientpositive/sample5.q: BUCKET 1 OUT OF 5 on key through an
    //      INSERT (the value-hash filter again)
    QueryDef(
      "q648_qf_sample5",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val d = s"sample5_dest_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $d SELECT s.* " +
          s"FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 5 on key) s")
        HiveQl.sql(s, s"SELECT * FROM $d SORT BY key, value").orderBy("key", "value")
      },
      Some(s"""WITH $SrcBucketCtes
          SELECT key, value FROM srcb WHERE key % 5 = 0 ORDER BY key, value""")),

    // ---- clientpositive/sample6.q: the sampling ladder — divisible and
    //      non-divisible denominators over srcbucket, FILE-pruned legs over
    //      srcbucket2 (whose files are NOT int-hash clean: the golden rows
    //      ARE the file contents), and the empty-bucket table
    QueryDef(
      "q649_qf_sample6",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val eb = s"empty_bucket_$sfx"
        fresh(s, eb)
        HiveQl.sql(s, s"CREATE TABLE $eb (key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS STORED AS TEXTFILE")
        val legs = Seq(
          s"SELECT 0 as sec, s.key, s.value FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 4 on key) s",
          s"SELECT 1, s.key, s.value FROM srcbucket_$sfx TABLESAMPLE (BUCKET 4 OUT OF 4 on key) s",
          s"SELECT 2, s.key, s.value FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s",
          s"SELECT 3, s.key, s.value FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 3 on key) s",
          s"SELECT 4, s.key, s.value FROM srcbucket_$sfx TABLESAMPLE (BUCKET 2 OUT OF 3 on key) s",
          s"SELECT 5, s.key, s.value FROM srcbucket2_$sfx TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s",
          s"SELECT 6, s.key, s.value FROM srcbucket2_$sfx TABLESAMPLE (BUCKET 2 OUT OF 4 on key) s",
          s"SELECT 7, s.key, s.value FROM $eb TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s")
        HiveQl.sql(s, legs.mkString(" UNION ALL "))
          .orderBy("sec", "key", "value")
      },
      Some(s"""WITH $SrcBucketCtes,
          legs AS (
            SELECT 0 AS sec, key, value FROM srcb WHERE key % 4 = 0
            UNION ALL SELECT 1, key, value FROM srcb WHERE key % 4 = 3
            UNION ALL SELECT 2, key, value FROM srcb WHERE key % 2 = 0
            UNION ALL SELECT 3, key, value FROM srcb WHERE key % 3 = 0
            UNION ALL SELECT 4, key, value FROM srcb WHERE key % 3 = 1
            UNION ALL SELECT 5, key, value FROM ${csv("srcbucket20")}
            UNION ALL SELECT 5, key, value FROM ${csv("srcbucket22")}
            UNION ALL SELECT 6, key, value FROM ${csv("srcbucket21")})
          SELECT * FROM legs ORDER BY sec, key, value""")),

    // ---- clientpositive/sample7.q: file-pruned sample composed with a
    //      row predicate
    QueryDef(
      "q650_qf_sample7",
      (s, dir) => {
        val sfx = srcbucketFixtures(s, dir)
        val d = s"sample7_dest_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d SELECT s.*
            FROM srcbucket_$sfx TABLESAMPLE (BUCKET 1 OUT OF 4 on key) s
            WHERE s.key > 100""")
        HiveQl.sql(s, s"SELECT * FROM $d").orderBy("key", "value")
      },
      Some(s"""WITH $SrcBucketCtes
          SELECT key, value FROM srcb WHERE key % 4 = 0 AND key > 100
          ORDER BY key, value"""))
  )
}
