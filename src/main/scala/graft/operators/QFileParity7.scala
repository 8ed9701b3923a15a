package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 7 (round 12): the mapreduce2–8 MAP/SELECT
  * distribute-sort family, the src_thrift remainder (testxpath3/4,
  * columnarserde, join_thrift), the join singles (casesensitive over
  * in5/in6.txt, empty sides under mapjoin hints, RCFile storage, join33's
  * 3-way MAPJOIN), sequencefile compressed insert, and the
  * rand_partitionpruner trio (range verdicts — Hive's java.util.Random
  * stream differs from Spark's by design, the PRUNING is what's pinned).
  */
object QFileParity7 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, RefData}

  /** src + srcpart + src1 in one oracle CTE (join33's shape). */
  private val SrcPartSrc1Cte = SrcPartCte.stripSuffix(")") + """),
       src1 AS (
         SELECT CASE WHEN n_nationkey % 5 = 0 THEN ''
                     ELSE CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS key,
                CASE WHEN n_nationkey % 3 = 0 THEN ''
                     ELSE 'val_' || CAST((4 * n_nationkey * n_nationkey) % 500 AS VARCHAR) END AS value
         FROM nation)"""

  /** The mapreduce2–4/7 shape: MAP through cat into a typed dest, then a
    * deterministic read-back (the .q's trailing SELECT order is reducer-
    * dependent; the established wrapper is a total ORDER BY).
    */
  private def mapReduceDest(s: SparkSession, dir: String, tag: String,
      mapClause: String, destCols: String = "key INT, ten INT, one INT, value STRING",
      readCols: String = "key, ten, one, value"): DataFrame = {
    val d = s"dest_$tag${fixtures(s, dir)}"
    fresh(s, d)
    HiveQl.sql(s, s"CREATE TABLE $d($destCols) STORED AS TEXTFILE")
    HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d $mapClause")
    HiveQl.sql(s, s"SELECT $d.* FROM $d")
      .orderBy(readCols.split(",\\s*").map(col).toIndexedSeq: _*)
  }

  private val MrOracle =
    s"""$SrcCte
       SELECT CAST(key AS INT) AS key,
              CAST(trunc(CAST(key AS DOUBLE) / 10) AS INT) AS ten,
              CAST(CAST(key AS DOUBLE) % 10 AS INT) AS one,
              value
       FROM src ORDER BY key, ten, one, value"""

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/mapreduce2.q: MAP + DISTRIBUTE BY only
    QueryDef(
      "q541_qf_mapreduce2",
      (s, dir) => mapReduceDest(s, dir, "mr2_",
        """MAP src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
           USING '/bin/cat' AS (tkey, ten, one, tvalue)
           DISTRIBUTE BY tvalue, tkey"""),
      Some(MrOracle)),

    // ---- clientpositive/mapreduce3.q: MAP + SORT BY only
    QueryDef(
      "q542_qf_mapreduce3",
      (s, dir) => mapReduceDest(s, dir, "mr3_",
        """MAP src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
           USING '/bin/cat' AS (tkey, ten, one, tvalue)
           SORT BY tvalue, tkey"""),
      Some(MrOracle)),

    // ---- clientpositive/mapreduce4.q: MAP + DISTRIBUTE + mixed-direction SORT
    QueryDef(
      "q543_qf_mapreduce4",
      (s, dir) => mapReduceDest(s, dir, "mr4_",
        """MAP src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
           USING '/bin/cat' AS (tkey, ten, one, tvalue)
           DISTRIBUTE BY tvalue, tkey
           SORT BY ten DESC, one ASC"""),
      Some(MrOracle)),

    // ---- clientpositive/mapreduce5.q: plain SELECT with DISTRIBUTE/SORT
    //      into the dest (no script at all)
    QueryDef(
      "q544_qf_mapreduce5",
      (s, dir) => mapReduceDest(s, dir, "mr5_",
        """SELECT src.key as c1, CAST(src.key / 10 AS INT) as c2,
                  CAST(src.key % 10 AS INT) as c3, src.value as c4
           DISTRIBUTE BY c4, c1
           SORT BY c2 DESC, c3 ASC"""),
      Some(MrOracle)),

    // ---- clientpositive/mapreduce6.q: SORT BY aliases mixing source and
    //      projected names
    QueryDef(
      "q545_qf_mapreduce6",
      (s, dir) => mapReduceDest(s, dir, "mr6_",
        """SELECT src.key, CAST(src.key / 10 AS INT) as c2,
                  CAST(src.key % 10 AS INT) as c3, src.value
           DISTRIBUTE BY value, key
           SORT BY c2 DESC, c3 ASC"""),
      Some(MrOracle)),

    // ---- clientpositive/mapreduce7.q: MAP src.* plus computed columns
    QueryDef(
      "q546_qf_mapreduce7",
      (s, dir) => mapReduceDest(s, dir, "mr7_",
        """MAP src.*, src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
           USING '/bin/cat' AS (k, v, tkey, ten, one, tvalue)
           SORT BY tvalue, tkey""",
        destCols = "k STRING, v STRING, key INT, ten INT, one INT, value STRING",
        readCols = "k, v, key, ten, one, value"),
      Some(s"""$SrcCte
        SELECT key AS k, value AS v, CAST(key AS INT) AS key,
               CAST(trunc(CAST(key AS DOUBLE) / 10) AS INT) AS ten,
               CAST(CAST(key AS DOUBLE) % 10 AS INT) AS one, value
        FROM src ORDER BY k, v, key, ten, one, value""")),

    // ---- clientpositive/mapreduce8.q: DISTRIBUTE BY rand(3) — random
    //      placement, deterministic CONTENT
    QueryDef(
      "q547_qf_mapreduce8",
      (s, dir) => mapReduceDest(s, dir, "mr8_",
        """MAP src.*, src.key, CAST(src.key / 10 AS INT), CAST(src.key % 10 AS INT), src.value
           USING '/bin/cat' AS (k, v, tkey, ten, one, tvalue)
           DISTRIBUTE BY rand(3)
           SORT BY tvalue, tkey""",
        destCols = "k STRING, v STRING, key INT, ten INT, one INT, value STRING",
        readCols = "k, v, key, ten, one, value"),
      Some(s"""$SrcCte
        SELECT key AS k, value AS v, CAST(key AS INT) AS key,
               CAST(trunc(CAST(key AS DOUBLE) / 10) AS INT) AS ten,
               CAST(CAST(key AS DOUBLE) % 10 AS INT) AS one, value
        FROM src ORDER BY k, v, key, ten, one, value""")),

    // ---- clientpositive/input_testxpath3.q: map-index + struct-field
    //      projection over an array of structs ([.] on arrays maps)
    QueryDef(
      "q548_qf_input_testxpath3",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """FROM src_thrift
             SELECT src_thrift.mstringstring['key_9'] AS mv,
                    src_thrift.lintstring.myint AS myints""")
          .selectExpr("mv",
            "CASE WHEN myints IS NULL THEN 'null' ELSE concat('[', concat_ws(',', myints), ']') END AS myints")
          .orderBy(col("mv").asc_nulls_first, col("myints"))
      },
      Some("""SELECT * FROM (VALUES
          (NULL, '[0]'), (NULL, '[1]'), (NULL, '[16]'), (NULL, '[25]'),
          (NULL, '[36]'), (NULL, '[4]'), (NULL, '[49]'), (NULL, '[64]'),
          (NULL, '[9]'), (NULL, 'null'), ('value_9', '[81]'))
          v(mv, myints) ORDER BY mv NULLS FIRST, myints""")),

    // ---- clientpositive/input_testxpath4.q: the same projection under an
    //      OR filter, swept across hive.optimize.ppd=false/true
    QueryDef(
      "q549_qf_input_testxpath4",
      (s, dir) => {
        fixtures(s, dir)
        val legs = Seq("false", "true").zipWithIndex.map { case (ppd, i) =>
          HiveQl.sql(s, s"SET hive.optimize.ppd=$ppd")
          HiveQl.sql(s,
            """FROM src_thrift
               SELECT src_thrift.mstringstring['key_9'] AS mv, lintstring.myint AS myints
               WHERE src_thrift.mstringstring['key_9'] IS NOT NULL
                     OR lintstring.myint IS NOT NULL
                     OR lintstring IS NOT NULL""")
            .selectExpr(s"$i AS leg", "mv",
              "concat('[', concat_ws(',', myints), ']') AS myints")
            .localCheckpoint(true)
        }
        legs.reduce(_ union _)
          .orderBy(col("leg"), col("mv").asc_nulls_first, col("myints"))
      },
      Some("""SELECT * FROM (
          SELECT leg, mv, myints FROM (VALUES
            (NULL, '[0]'), (NULL, '[1]'), (NULL, '[16]'), (NULL, '[25]'),
            (NULL, '[36]'), (NULL, '[4]'), (NULL, '[49]'), (NULL, '[64]'),
            (NULL, '[9]'), ('value_9', '[81]')) v(mv, myints),
            (VALUES (0), (1)) l(leg))
          ORDER BY leg, mv NULLS FIRST, myints""")),

    // ---- clientpositive/input_columnarserde.q: src_thrift complex columns
    //      through a ColumnarSerDe/RCFile table and back
    QueryDef(
      "q550_qf_input_columnarserde",
      (s, dir) => {
        val t = s"input_columnarserde_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t(a array<int>, b array<string>, c map<string,string>, d int, e string)
              ROW FORMAT SERDE
                'org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe'
              STORED AS
                INPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileInputFormat'
                OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileOutputFormat'""")
        HiveQl.sql(s,
          s"""FROM src_thrift
              INSERT OVERWRITE TABLE $t SELECT src_thrift.lint, src_thrift.lstring,
                src_thrift.mstringstring, src_thrift.aint, src_thrift.astring
              DISTRIBUTE BY 1""")
        HiveQl.sql(s,
          s"""SELECT a[0] AS a0, b[0] AS b0, c['key2'] AS c2, d, e FROM $t""")
          .orderBy(col("e").asc_nulls_first)
      },
      Some("""SELECT * FROM (VALUES
          (CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 0, CAST(NULL AS VARCHAR)),
          (0, '0', NULL, 1712634731, 'record_0'),
          (1, '10', NULL, 465985200, 'record_1'),
          (2, '20', NULL, -751827638, 'record_2'),
          (3, '30', NULL, 477111222, 'record_3'),
          (4, '40', NULL, -734328909, 'record_4'),
          (5, '50', NULL, -1952710710, 'record_5'),
          (6, '60', NULL, 1244525190, 'record_6'),
          (7, '70', NULL, -1461153973, 'record_7'),
          (8, '80', NULL, 1638581578, 'record_8'),
          (9, '90', NULL, 336964413, 'record_9'))
          v(a0, b0, c2, d, e) ORDER BY e NULLS FIRST""")),

    // ---- clientpositive/input_testsequencefile.q: compressed BLOCK
    //      sequencefile insert + read-back
    QueryDef(
      "q551_qf_input_testsequencefile",
      (s, dir) => {
        val d = s"dest4_seq_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, "SET mapred.output.compress=true")
        HiveQl.sql(s, "SET mapred.output.compression.type=BLOCK")
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d SELECT src.key, src.value")
        HiveQl.sql(s, "SET mapred.output.compress=false")
        HiveQl.sql(s, s"SELECT $d.* FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte SELECT CAST(key AS INT) AS key, value FROM src
               ORDER BY key, value""")),

    // ---- clientpositive/join_casesensitive.q: mixed-case table names
    //      (joinone/joinTwo) resolve case-insensitively; in5/in6.txt are
    //      ^A-delimited int triples
    QueryDef(
      "q552_qf_join_casesensitive",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"joinone_$sfx", s"jointwo_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key1 int, key2 int, value int)")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in5.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"CREATE TABLE joinTwo_$sfx(key1 int, key2 int, value int)")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/in6.txt' INTO TABLE joinTwo_$sfx")
        HiveQl.sql(s,
          s"SELECT * FROM $t1 JOIN joinTwo_$sfx ON($t1.key2 = joinTwo_$sfx.key2)")
          .toDF("a1", "a2", "a3", "b1", "b2", "b3")
          .orderBy("a1", "a2", "a3", "b1", "b2", "b3")
      },
      Some(s"""WITH one AS (SELECT * FROM read_csv('$RefData/in5.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key1': 'INT', 'key2': 'INT', 'value': 'INT'})),
          two AS (SELECT * FROM read_csv('$RefData/in6.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key1': 'INT', 'key2': 'INT', 'value': 'INT'}))
          SELECT one.key1 AS a1, one.key2 AS a2, one.value AS a3,
                 two.key1 AS b1, two.key2 AS b2, two.value AS b3
          FROM one JOIN two ON one.key2 = two.key2
          ORDER BY a1 NULLS FIRST, a2 NULLS FIRST, a3 NULLS FIRST,
                   b1 NULLS FIRST, b2 NULLS FIRST, b3 NULLS FIRST""")),

    // ---- clientpositive/join_empty.q: joins whose small side is an empty
    //      partitioned table / empty plain table, with MAPJOIN hints and
    //      auto-convert — all four legs return nothing
    QueryDef(
      "q553_qf_join_empty",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"srcpart_empty_$sfx", s"src2_empty_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key int, value string) PARTITIONED BY (ds string)")
        HiveQl.sql(s, s"CREATE TABLE $t2(key int, value string)")
        val l1 = HiveQl.sql(s,
          s"SELECT /*+mapjoin(a)*/ count(1) AS n FROM $t1 a JOIN src b ON a.key = b.key")
        val l2 = HiveQl.sql(s,
          s"SELECT /*+mapjoin(a)*/ count(1) AS n FROM $t2 a JOIN src b ON a.key = b.key")
        HiveQl.sql(s, "SET hive.auto.convert.join = true")
        val l3 = HiveQl.sql(s,
          s"SELECT count(1) AS n FROM $t1 a JOIN src b ON a.key = b.key").localCheckpoint(true)
        val l4 = HiveQl.sql(s,
          s"SELECT count(1) AS n FROM $t2 a JOIN src b ON a.key = b.key").localCheckpoint(true)
        l1.withColumn("leg", lit(0)).union(l2.withColumn("leg", lit(1)))
          .union(l3.withColumn("leg", lit(2))).union(l4.withColumn("leg", lit(3)))
          .orderBy("leg")
      },
      Some("""SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0), (0, 1), (0, 2), (0, 3))
              v(n, leg) ORDER BY leg""")),

    // ---- clientpositive/join_rc.q: equi-join across two RCFile tables
    QueryDef(
      "q554_qf_join_rc",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"join_rc1_$sfx", s"join_rc2_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(key string, value string) STORED AS RCFILE")
        HiveQl.sql(s, s"CREATE TABLE $t2(key string, value string) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT * FROM src")
        HiveQl.sql(s,
          s"""SELECT $t1.key, $t2.value
              FROM $t1 JOIN $t2 ON $t1.key = $t2.key""")
          .orderBy("key", "value")
      },
      Some(s"""$SrcCte
        SELECT a.key, b.value FROM src a JOIN src b ON a.key = b.key
        ORDER BY 1, 2""")),

    // ---- clientpositive/join_thrift.q: join src_thrift on aint (the NULL
    //      fixture row carries aint = 0 and joins itself with a null
    //      lintstring), array-of-struct payload flattened for the oracle
    QueryDef(
      "q555_qf_join_thrift",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT s1.aint, s2.lintstring
             FROM src_thrift s1 JOIN src_thrift s2 ON s1.aint = s2.aint""")
          .selectExpr("aint",
            "CASE WHEN lintstring IS NULL THEN -1 ELSE size(lintstring) END AS n",
            "lintstring[0].myint AS my0",
            "lintstring[0].mystring AS mys0",
            "lintstring[0].underscore_int AS u0")
          .orderBy("aint")
      },
      Some("""SELECT * FROM (VALUES
          (-1952710710, 1, 25, '125', 5), (-1461153973, 1, 49, '343', 7),
          (-751827638, 1, 4, '8', 2), (-734328909, 1, 16, '64', 4),
          (0, -1, CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS INT)),
          (336964413, 1, 81, '729', 9), (465985200, 1, 1, '1', 1),
          (477111222, 1, 9, '27', 3), (1244525190, 1, 36, '216', 6),
          (1638581578, 1, 64, '512', 8), (1712634731, 1, 0, '0', 0))
          v(aint, n, my0, mys0, u0) ORDER BY aint""")),

    // ---- clientpositive/join33.q: MAPJOIN-hinted 3-way join of src1, src
    //      and a pruned srcpart partition into a dest table
    QueryDef(
      "q556_qf_join33",
      (s, dir) => {
        val d = s"dest_j1_33_${fixtures(s, dir)}"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, value STRING, val2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $d
              SELECT /*+ MAPJOIN(x) */ x.key, z.value, y.value
              FROM src1 x JOIN src y ON (x.key = y.key)
              JOIN srcpart z ON (x.value = z.value AND z.ds='2008-04-08' AND z.hr=11)""")
        HiveQl.sql(s, s"SELECT * FROM $d x").orderBy("key", "value", "val2")
      },
      Some(s"""$SrcPartSrc1Cte
        SELECT x.key, z.value, y.value AS val2
        FROM src1 x JOIN src y ON x.key = y.key
        JOIN srcpart z ON x.value = z.value AND z.ds = '2008-04-08'
          AND TRY_CAST(z.hr AS DOUBLE) = 11
        ORDER BY 1, 2, 3""")),

    // ---- clientpositive/rand_partitionpruner1.q: rand(1) sample of an
    //      unpartitioned scan — the count verdict bounds the sample
    QueryDef(
      "q557_qf_rand_partitionpruner1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(1) BETWEEN 10 AND 150 AS ok,
                    count(1) < 500 AS sampled
             FROM (SELECT * FROM src WHERE rand(1) < 0.1) t""")
      },
      Some("SELECT true AS ok, true AS sampled")),

    // ---- clientpositive/rand_partitionpruner2.q: rand sample INTO a dest
    //      over one pruned partition pair; membership + bound facts
    QueryDef(
      "q558_qf_rand_partitionpruner2",
      (s, dir) => {
        val t = s"tmptable_rpp2_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key string, value string, hr string, ds string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
              SELECT a.* FROM srcpart a WHERE rand(1) < 0.1 AND a.ds = '2008-04-08'""")
        HiveQl.sql(s,
          // the dest declares hr BEFORE ds, so the positional a.* insert
          // puts ds values in hr and vice versa (input_part5's swap)
          s"""SELECT count(1) BETWEEN 40 AND 400 AS ok,
                sum(CASE WHEN ds IN ('11', '12') AND hr = '2008-04-08'
                    THEN 1 ELSE 0 END) = count(1) AS hr_ok,
                sum(CASE WHEN value = concat('val_', key) THEN 1 ELSE 0 END) = count(1) AS pair_ok
              FROM $t""")
      },
      Some("SELECT true AS ok, true AS hr_ok, true AS pair_ok")),

    // ---- clientpositive/rand_partitionpruner3.q: rand + complex residual
    //      predicates (NOT(range) and LIKE on the partition column); the
    //      deterministic predicates are verified exactly on the complement
    QueryDef(
      "q559_qf_rand_partitionpruner3",
      (s, dir) => {
        fixtures(s, dir)
        val sampled = HiveQl.sql(s,
          """SELECT count(1) AS n_sample
             FROM srcpart a WHERE rand(1) < 0.1 AND a.ds = '2008-04-08'
               AND NOT(key > 50 OR key < 10) AND a.hr LIKE '%2'""")
        val exact = HiveQl.sql(s,
          """SELECT count(1) AS n_exact
             FROM srcpart a WHERE a.ds = '2008-04-08'
               AND NOT(key > 50 OR key < 10) AND a.hr LIKE '%2'""")
        sampled.crossJoin(exact)
          .selectExpr("n_sample <= n_exact AS bounded", "n_exact AS n_exact")
      },
      Some(s"""$SrcPartCte
        SELECT true AS bounded, count(1) AS n_exact
        FROM srcpart WHERE ds = '2008-04-08'
          AND NOT(TRY_CAST(key AS DOUBLE) > 50 OR TRY_CAST(key AS DOUBLE) < 10)
          AND hr LIKE '%2'"""))
  )
}
