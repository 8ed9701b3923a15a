package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 9 (round 12): the load_dyn_part family —
  * dynamic-partition INSERTs in every reference shape (pure dynamic, mixed
  * static+dynamic, multi-insert single scan, repeated overwrite, computed
  * and special-character partition values, NULL/empty values collapsing to
  * the default partition, bucketed dests, compressed output) plus
  * load_overwrite and loadpart1 (case-preserved partition VALUES under
  * case-insensitive partition KEY names).
  *
  * The reference's `CREATE TABLE ... LIKE srcpart` copies srcpart's
  * PARTITIONED BY spec; the battery's srcpart is a view, so dests are
  * declared with the explicit equivalent schema.
  */
object QFileParity9 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, RefData}

  private def likeSrcpart(s: SparkSession, t: String): Unit =
    HiveQl.sql(s,
      s"""CREATE TABLE IF NOT EXISTS $t (key STRING, value STRING)
          PARTITIONED BY (ds STRING, hr STRING)""")

  private def dynConfs(s: SparkSession): Unit = {
    HiveQl.sql(s, "SET hive.exec.dynamic.partition=true")
    HiveQl.sql(s, "SET hive.exec.dynamic.partition.mode=nonstrict")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/load_dyn_part1.q: one scan, two dyn-partition
    //      INSERT branches (full-dynamic + static-ds/dynamic-hr)
    QueryDef(
      "q576_qf_load_dyn_part1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"nzhang_part1_$sfx", s"nzhang_part2_$sfx")
        fresh(s, t1, t2)
        likeSrcpart(s, t1); likeSrcpart(s, t2)
        dynConfs(s)
        HiveQl.sql(s,
          s"""FROM srcpart
              INSERT OVERWRITE TABLE $t1 PARTITION (ds, hr)
                SELECT key, value, ds, hr WHERE ds <= '2008-04-08'
              INSERT OVERWRITE TABLE $t2 PARTITION (ds='2008-12-31', hr)
                SELECT key, value, hr WHERE ds > '2008-04-08'""")
        val p1 = HiveQl.sql(s, s"SHOW PARTITIONS $t1")
          .selectExpr("0 AS stage", "partition AS v", "CAST(NULL AS BIGINT) AS n")
          .localCheckpoint(true)
        val p2 = HiveQl.sql(s, s"SHOW PARTITIONS $t2")
          .selectExpr("1 AS stage", "partition AS v", "CAST(NULL AS BIGINT) AS n")
          .localCheckpoint(true)
        val c = HiveQl.sql(s,
          s"""SELECT 2 AS stage, 'counts' AS v,
                (SELECT count(1) FROM $t1 WHERE ds IS NOT NULL AND hr IS NOT NULL) +
                10000 * (SELECT count(1) FROM $t2 WHERE ds IS NOT NULL AND hr IS NOT NULL) AS n""")
        p1.union(p2).union(c).orderBy("stage", "v")
      },
      Some("""SELECT * FROM (VALUES
          (0, 'ds=2008-04-08/hr=11', CAST(NULL AS BIGINT)),
          (0, 'ds=2008-04-08/hr=12', NULL),
          (1, 'ds=2008-12-31/hr=11', NULL), (1, 'ds=2008-12-31/hr=12', NULL),
          (2, 'counts', 10001000))
          v(stage, v, n) ORDER BY stage, v""")),

    // ---- clientpositive/load_dyn_part2.q: dynamic hr into a BUCKETED
    //      dest under hive.enforce.bucketing
    QueryDef(
      "q577_qf_load_dyn_part2",
      (s, dir) => {
        val t = s"nzhang_part_bucket_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE IF NOT EXISTS $t (key STRING, value STRING)
              PARTITIONED BY (ds STRING, hr STRING)
              CLUSTERED BY (key) INTO 10 BUCKETS""")
        HiveQl.sql(s, "SET hive.enforce.bucketing=true")
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds='2010-03-23', hr)
              SELECT key, value, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s,
          s"""SELECT hr, count(1) AS n FROM $t
              WHERE ds='2010-03-23' GROUP BY hr""").orderBy("hr")
      },
      Some("""SELECT * FROM (VALUES ('11', CAST(1000 AS BIGINT)), ('12', 1000))
              v(hr, n) ORDER BY hr""")),

    // ---- clientpositive/load_dyn_part3.q: full dynamic (ds, hr) copy
    QueryDef(
      "q578_qf_load_dyn_part3",
      (s, dir) => {
        val t = s"nzhang_part3_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds, hr)
              SELECT key, value, ds, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s, s"SELECT * FROM $t WHERE ds IS NOT NULL AND hr IS NOT NULL")
          .orderBy("ds", "hr", "key", "value")
      },
      Some(s"""$SrcPartCte SELECT * FROM srcpart
               ORDER BY ds, hr, key, value""")),

    // ---- clientpositive/load_dyn_part4.q: a pre-seeded static partition
    //      SURVIVES two full-dynamic overwrites of the other partitions
    QueryDef(
      "q579_qf_load_dyn_part4",
      (s, dir) => {
        val t = s"nzhang_part4_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds='2008-04-08', hr='existing_value')
              SELECT key, value FROM src""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds, hr)
              SELECT key, value, ds, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds, hr)
              SELECT key, value, ds, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s,
          s"""SELECT hr, count(1) AS n FROM $t
              WHERE ds = '2008-04-08' GROUP BY hr""").orderBy("hr")
      },
      Some("""SELECT * FROM (VALUES ('11', CAST(500 AS BIGINT)), ('12', 500),
              ('existing_value', 500)) v(hr, n) ORDER BY hr""")),

    // ---- clientpositive/load_dyn_part5.q: one partition per DISTINCT
    //      value (the many-small-partitions shape), overwritten twice
    QueryDef(
      "q580_qf_load_dyn_part5",
      (s, dir) => {
        val t = s"nzhang_part5_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE IF NOT EXISTS $t (key STRING) PARTITIONED BY (value STRING)")
        dynConfs(s)
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (value) SELECT key, value FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (value) SELECT key, value FROM src")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $t) AS n,
                (SELECT count(DISTINCT value) FROM $t) AS nparts,
                (SELECT count(1) FROM $t WHERE value = 'val_0') AS v0""")
      },
      Some(s"""$SrcCte
        SELECT (SELECT count(1) FROM src) AS n,
               (SELECT count(DISTINCT value) FROM src) AS nparts,
               (SELECT count(1) FROM src WHERE value = 'val_0') AS v0""")),

    // ---- clientpositive/load_dyn_part6.q: static ds + dynamic hr
    QueryDef(
      "q581_qf_load_dyn_part6",
      (s, dir) => {
        val t = s"nzhang_part6_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds="2010-03-03", hr)
              SELECT key, value, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s,
          s"SELECT * FROM $t WHERE ds = '2010-03-03' AND hr = '11'")
          .orderBy("key", "value")
      },
      Some(s"""$SrcPartCte
        SELECT key, value, '2010-03-03' AS ds, hr FROM srcpart WHERE hr = '11'
        ORDER BY key, value""")),

    // ---- clientpositive/load_dyn_part7.q: fully static insert from a
    //      pruned partition
    QueryDef(
      "q582_qf_load_dyn_part7",
      (s, dir) => {
        val t = s"nzhang_part7_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds='2010-03-03', hr='12')
              SELECT key, value FROM srcpart WHERE ds = '2008-04-08' AND hr = '12'""")
        HiveQl.sql(s, s"SELECT * FROM $t WHERE ds IS NOT NULL AND hr IS NOT NULL")
          .orderBy("key", "value")
      },
      Some(s"""$SrcPartCte
        SELECT key, value, '2010-03-03' AS ds, '12' AS hr FROM srcpart
        WHERE ds = '2008-04-08' AND hr = '12' ORDER BY key, value""")),

    // ---- clientpositive/load_dyn_part8.q: the part1 multi-insert run
    //      TWICE (idempotent overwrite of every written partition)
    QueryDef(
      "q583_qf_load_dyn_part8",
      (s, dir) => {
        val t = s"nzhang_part8_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        for (_ <- 1 to 2) HiveQl.sql(s,
          s"""FROM srcpart
              INSERT OVERWRITE TABLE $t PARTITION (ds, hr)
                SELECT key, value, ds, hr WHERE ds <= '2008-04-08'
              INSERT OVERWRITE TABLE $t PARTITION (ds='2008-12-31', hr)
                SELECT key, value, hr WHERE ds > '2008-04-08'""")
        HiveQl.sql(s,
          s"""SELECT ds, hr, count(1) AS n FROM $t
              WHERE ds IS NOT NULL AND hr IS NOT NULL GROUP BY ds, hr""")
          .orderBy("ds", "hr")
      },
      Some("""SELECT * FROM (VALUES
          ('2008-04-08', '11', CAST(500 AS BIGINT)),
          ('2008-04-08', '12', 500),
          ('2008-12-31', '11', 500), ('2008-12-31', '12', 500))
          v(ds, hr, n) ORDER BY ds, hr""")),

    // ---- clientpositive/load_dyn_part9.q: single-branch form run twice
    QueryDef(
      "q584_qf_load_dyn_part9",
      (s, dir) => {
        val t = s"nzhang_part9_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        for (_ <- 1 to 2) HiveQl.sql(s,
          s"""FROM srcpart
              INSERT OVERWRITE TABLE $t PARTITION (ds, hr)
                SELECT key, value, ds, hr WHERE ds <= '2008-04-08'""")
        HiveQl.sql(s, s"SELECT * FROM $t WHERE ds IS NOT NULL AND hr IS NOT NULL")
          .orderBy("hr", "key", "value")
      },
      Some(s"""$SrcPartCte
        SELECT * FROM srcpart WHERE ds <= '2008-04-08'
        ORDER BY hr, key, value""")),

    // ---- clientpositive/load_dyn_part10.q: static-ds/dynamic-hr run twice
    QueryDef(
      "q585_qf_load_dyn_part10",
      (s, dir) => {
        val t = s"nzhang_part10_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        for (_ <- 1 to 2) HiveQl.sql(s,
          s"""FROM srcpart
              INSERT OVERWRITE TABLE $t PARTITION (ds='2008-12-31', hr)
                SELECT key, value, hr WHERE ds > '2008-04-08'""")
        HiveQl.sql(s,
          s"""SELECT ds, hr, count(1) AS n FROM $t
              WHERE ds IS NOT NULL AND hr IS NOT NULL GROUP BY ds, hr""")
          .orderBy("ds", "hr")
      },
      Some("""SELECT * FROM (VALUES
          ('2008-12-31', '11', CAST(500 AS BIGINT)), ('2008-12-31', '12', 500))
          v(ds, hr, n) ORDER BY ds, hr""")),

    // ---- clientpositive/load_dyn_part11.q: dynamic hr under compressed
    //      output (hive.exec.compress.output=true)
    QueryDef(
      "q586_qf_load_dyn_part11",
      (s, dir) => {
        val t = s"nzhang_part11_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        HiveQl.sql(s, "SET hive.exec.compress.output=true")
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds="2010-03-03", hr)
              SELECT key, value, hr FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s, "SET hive.exec.compress.output=false")
        HiveQl.sql(s,
          s"""SELECT hr, count(1) AS n FROM $t WHERE ds = '2010-03-03'
              GROUP BY hr""").orderBy("hr")
      },
      Some("""SELECT * FROM (VALUES ('11', CAST(1000 AS BIGINT)), ('12', 1000))
              v(hr, n) ORDER BY hr""")),

    // ---- clientpositive/load_dyn_part12.q: COMPUTED dynamic partition
    //      values (cast(hr*2 as int) → 22/24)
    QueryDef(
      "q587_qf_load_dyn_part12",
      (s, dir) => {
        val t = s"nzhang_part12_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds="2010-03-03", hr)
              SELECT key, value, CAST(hr*2 AS INT) FROM srcpart
              WHERE ds IS NOT NULL AND hr IS NOT NULL""")
        HiveQl.sql(s,
          s"""SELECT hr, count(1) AS n FROM $t
              WHERE ds IS NOT NULL AND hr IS NOT NULL GROUP BY hr""")
          .orderBy("hr")
      },
      Some("""SELECT * FROM (VALUES ('22', CAST(1000 AS BIGINT)), ('24', 1000))
              v(hr, n) ORDER BY hr""")),

    // ---- clientpositive/load_dyn_part13.q: dynamic values from union
    //      branches with literal partition columns
    QueryDef(
      "q588_qf_load_dyn_part13",
      (s, dir) => {
        val t = s"nzhang_part13_${fixtures(s, dir)}"
        fresh(s, t)
        likeSrcpart(s, t)
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (ds="2010-03-03", hr)
              SELECT * FROM (
                SELECT key, value, '22' FROM src WHERE key < 20
                UNION ALL
                SELECT key, value, '33' FROM src WHERE key > 20 AND key < 40) s""")
        HiveQl.sql(s, s"SELECT * FROM $t WHERE ds IS NOT NULL AND hr IS NOT NULL")
          .orderBy("hr", "key", "value")
      },
      Some(s"""$SrcCte
        SELECT key, value, '2010-03-03' AS ds, hr FROM (
          SELECT key, value, '22' AS hr FROM src WHERE TRY_CAST(key AS DOUBLE) < 20
          UNION ALL
          SELECT key, value, '33' FROM src
          WHERE TRY_CAST(key AS DOUBLE) > 20 AND TRY_CAST(key AS DOUBLE) < 40) s
        ORDER BY hr, key, value""")),

    // ---- clientpositive/load_dyn_part14.q: NULL and EMPTY dynamic values
    //      collapse into the default partition; ' ' is preserved
    QueryDef(
      "q589_qf_load_dyn_part14",
      (s, dir) => {
        val t = s"nzhang_part14_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE IF NOT EXISTS $t (key STRING) PARTITIONED BY (value STRING)")
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (value)
              SELECT key, value FROM (
                SELECT * FROM (SELECT 'k1' AS key, CAST(NULL AS STRING) AS value FROM src LIMIT 2) a
                UNION ALL
                SELECT * FROM (SELECT 'k2' AS key, '' AS value FROM src LIMIT 2) b
                UNION ALL
                SELECT * FROM (SELECT 'k3' AS key, ' ' AS value FROM src LIMIT 2) c
              ) T""")
        HiveQl.sql(s,
          // the default partition reads back as NULL through Spark's scan
          s"""SELECT key, CASE WHEN value IS NULL
                  OR value = '__HIVE_DEFAULT_PARTITION__'
                THEN 'default' ELSE concat('[', value, ']') END AS part, count(1) AS n
              FROM $t GROUP BY key, value""").orderBy("key", "part")
      },
      Some("""SELECT * FROM (VALUES
          ('k1', 'default', CAST(2 AS BIGINT)), ('k2', 'default', 2),
          ('k3', '[ ]', 2)) v(key, part, n) ORDER BY key, part""")),

    // ---- clientpositive/load_dyn_part15.q: special characters in dynamic
    //      partition values ({ and ]) survive the path escaping
    QueryDef(
      "q590_qf_load_dyn_part15",
      (s, dir) => {
        val t = s"load_dyn_part15_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE IF NOT EXISTS $t (key STRING) PARTITIONED BY (part_key STRING)")
        dynConfs(s)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION(part_key)
              SELECT key, part_key FROM src
              LATERAL VIEW explode(array("1","{2","3]")) myTable AS part_key""")
        HiveQl.sql(s,
          s"SELECT part_key, count(1) AS n FROM $t GROUP BY part_key")
          .orderBy("part_key")
      },
      Some("""SELECT * FROM (VALUES ('1', CAST(500 AS BIGINT)), ('3]', 500),
              ('{2', 500)) v(part_key, n) ORDER BY part_key""")),

    // ---- clientpositive/load_overwrite.q: INSERT, appending LOAD, then
    //      OVERWRITE LOAD — 500 → 1000 → 500
    QueryDef(
      "q591_qf_load_overwrite",
      (s, dir) => {
        val t = s"load_overwrite_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key STRING, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src")
        val c1 = HiveQl.sql(s, s"SELECT count(1) AS n FROM $t").localCheckpoint(true)
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        val c2 = HiveQl.sql(s, s"SELECT count(1) AS n FROM $t").localCheckpoint(true)
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' OVERWRITE INTO TABLE $t")
        val c3 = HiveQl.sql(s, s"SELECT count(1) AS n FROM $t").localCheckpoint(true)
        c1.withColumn("stage", lit(0)).union(c2.withColumn("stage", lit(1)))
          .union(c3.withColumn("stage", lit(2))).orderBy("stage")
      },
      Some("""SELECT * FROM (VALUES (CAST(500 AS BIGINT), 0), (1000, 1), (500, 2))
              v(n, stage) ORDER BY stage""")),

    // ---- clientpositive/loadpart1.q: partition KEY names are case-
    //      insensitive (pcol1/pCol1), partition VALUES are case-SENSITIVE
    //      ('test_Part' ≠ 'test_part')
    QueryDef(
      "q592_qf_loadpart1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (src0, dst) = (s"hive_test_src_$sfx", s"hive_test_dst_$sfx")
        fresh(s, src0, dst)
        HiveQl.sql(s, s"CREATE TABLE $src0 (col1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/test.dat' OVERWRITE INTO TABLE $src0")
        HiveQl.sql(s,
          s"""CREATE TABLE $dst (col1 STRING)
              PARTITIONED BY (pcol1 STRING, pcol2 STRING) STORED AS SEQUENCEFILE""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $dst PARTITION (pcol1='test_part', pCol2='test_Part')
              SELECT col1 FROM $src0""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $dst PARTITION (pCol1='test_part', pcol2='test_Part')
              SELECT col1 FROM $src0""")
        HiveQl.sql(s,
          s"""SELECT
                (SELECT count(1) FROM $dst WHERE pcol1='test_part' AND pcol2='test_Part') AS n1,
                (SELECT count(1) FROM $dst WHERE pcol1='test_part' AND pcol2='test_part') AS n2,
                (SELECT count(1) FROM $dst WHERE pcol1='test_part') AS n3,
                (SELECT count(1) FROM $dst WHERE pcol1='test_Part') AS n4""")
      },
      Some("""SELECT CAST(6 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2,
                     CAST(6 AS BIGINT) AS n3, CAST(0 AS BIGINT) AS n4"""))
  )
}
