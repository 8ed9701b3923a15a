package graft.operators

import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 10 (round 12): the create family (format
  * ladder, escaped delimiters, INPUTFORMAT/OUTPUTFORMAT pairs, LIKE and
  * EXTERNAL LIKE over a shared location, nested and struct column loads),
  * SHOW FUNCTIONS regex filtering, and the alter singles (TBLPROPERTIES /
  * SERDEPROPERTIES / SET SERDE metadata cycles, RENAME with partitions,
  * NOT CLUSTERED, ADD PARTITION LOCATION) including their second-database
  * reruns (CREATE DATABASE / USE).
  */
object QFileParity10 extends QueryModule {

  import QFileParity.{fixtures, fresh, RefData}
  import QFileParity6.describeRows

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/create_1.q: the format ladder TEXTFILE /
    //      SEQUENCEFILE / RCFILE through CREATE + IF NOT EXISTS + DESCRIBE
    //      (the .q's `set fs.default.name=invalidscheme:///` leg is a
    //      metadata-only-ness probe of Hive's CREATE; the engine's CREATE
    //      is metadata-only by construction)
    QueryDef(
      "q593_qf_create_1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val ts = (1 to 5).map(i => s"c1_table${i}_$sfx")
        fresh(s, ts: _*)
        HiveQl.sql(s, s"CREATE TABLE ${ts(0)} (a STRING, b STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE IF NOT EXISTS ${ts(0)} (a STRING, b STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE IF NOT EXISTS ${ts(1)} (a STRING, b INT) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE ${ts(2)} (a STRING, b STRING) ROW FORMAT " +
          s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE ${ts(3)} (a STRING, b STRING) ROW FORMAT " +
          s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS SEQUENCEFILE")
        HiveQl.sql(s, s"CREATE TABLE ${ts(4)} (a STRING, b STRING) ROW FORMAT " +
          s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS RCFILE")
        ts.zipWithIndex.map { case (t, i) => describeRows(s, t, i) }
          .reduce(_ union _).orderBy("stage", "idx")
      },
      Some("""SELECT * FROM (
          SELECT stage, idx, col_name,
                 CASE WHEN stage = 1 AND idx = 1 THEN 'int' ELSE 'string' END AS data_type
          FROM (VALUES (0), (1), (2), (3), (4)) s(stage),
               (VALUES (0, 'a'), (1, 'b')) c(idx, col_name))
          ORDER BY stage, idx""")),

    // ---- clientpositive/create_escape.q: ESCAPED BY '\\' writes the
    //      in-field TAB escaped so the row reads back intact
    QueryDef(
      "q594_qf_create_escape",
      (s, dir) => {
        val t = s"esc_table1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (a STRING, b STRING) ROW FORMAT " +
          "DELIMITED FIELDS TERMINATED BY '\\t' ESCAPED BY '\\\\' STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t SELECT key, '\\\\\\t\\\\' FROM src
              WHERE key = 100 LIMIT 1""")
        HiveQl.sql(s, s"SELECT a, b FROM $t")
      },
      Some("SELECT '100' AS a, '\\' || chr(9) || '\\' AS b")),

    // ---- clientpositive/create_insert_outputformat.q: explicit
    //      INPUTFORMAT/OUTPUTFORMAT pairs map to the text and seq formats
    QueryDef(
      "q595_qf_create_insert_outputformat",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t3) = (s"cio_text_$sfx", s"cio_seq_$sfx", s"cio_hseq_$sfx")
        fresh(s, t1, t2, t3)
        HiveQl.sql(s,
          s"""CREATE TABLE $t1(key INT, value STRING) STORED AS
              INPUTFORMAT 'org.apache.hadoop.mapred.TextInputFormat'
              OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.IgnoreKeyTextOutputFormat'""")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $t1 SELECT src.key, src.value LIMIT 10")
        HiveQl.sql(s,
          s"""CREATE TABLE $t2(key INT, value STRING) STORED AS
              INPUTFORMAT 'org.apache.hadoop.mapred.SequenceFileInputFormat'
              OUTPUTFORMAT 'org.apache.hadoop.mapred.SequenceFileOutputFormat'""")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $t2 SELECT src.key, src.value LIMIT 10")
        HiveQl.sql(s,
          s"""CREATE TABLE $t3(key INT, value STRING) STORED AS
              INPUTFORMAT 'org.apache.hadoop.mapred.SequenceFileInputFormat'
              OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat'""")
        HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $t3 SELECT src.key, src.value LIMIT 10")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(1) FROM $t1) AS n1,
                (SELECT count(1) FROM $t2) AS n2,
                (SELECT count(1) FROM $t3) AS n3,
                (SELECT count(1) FROM $t1 WHERE value = concat('val_', CAST(key AS STRING))) AS ok1,
                (SELECT count(1) FROM $t2 WHERE value = concat('val_', CAST(key AS STRING))) AS ok2""")
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n1, CAST(10 AS BIGINT) AS n2,
                     CAST(10 AS BIGINT) AS n3, CAST(10 AS BIGINT) AS ok1,
                     CAST(10 AS BIGINT) AS ok2""")),

    // ---- clientpositive/create_like.q: LIKE copies the schema; EXTERNAL
    //      LIKE over a SHARED LOCATION reads the same files and survives
    //      the sibling's drop
    QueryDef(
      "q596_qf_create_like",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2, t4, t5) = (s"cl_table1_$sfx", s"cl_table2_$sfx", s"cl_table4_$sfx", s"cl_table5_$sfx")
        fresh(s, t1, t2, t4, t5)
        HiveQl.sql(s, s"CREATE TABLE $t1 (a STRING, b STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $t2 LIKE $t1")
        HiveQl.sql(s, s"CREATE TABLE IF NOT EXISTS $t2 LIKE $t1")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 SELECT key, value FROM src WHERE key = 100 LIMIT 1")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT key, value FROM src WHERE key = 104 LIMIT 1")
        // Hive's no-STORED-AS default is textfile; the engine's bare-CREATE
        // default is its native parquet (SURVEY §2.2) — spelled explicitly
        HiveQl.sql(s,
          s"CREATE EXTERNAL TABLE $t4 (a INT) STORED AS TEXTFILE LOCATION '$RefData/ext_test'")
        HiveQl.sql(s,
          s"CREATE EXTERNAL TABLE $t5 LIKE $t4 LOCATION '$RefData/ext_test'")
        val pre = HiveQl.sql(s,
          s"""SELECT (SELECT concat_ws(',', a, b) FROM $t1) AS r1,
                (SELECT concat_ws(',', a, b) FROM $t2) AS r2,
                (SELECT count(1) FROM $t4) AS n4,
                (SELECT count(1) FROM $t5) AS n5""").localCheckpoint(true)
        HiveQl.sql(s, s"DROP TABLE $t5")
        val post = HiveQl.sql(s,
          s"SELECT 'post' AS r1, '' AS r2, (SELECT count(1) FROM $t4) AS n4, CAST(0 AS BIGINT) AS n5")
          .localCheckpoint(true)
        pre.union(post).orderBy("r1")
      },
      Some("""SELECT * FROM (VALUES
          ('100,val_100', '104,val_104', CAST(6 AS BIGINT), CAST(6 AS BIGINT)),
          ('post', '', 6, 0)) v(r1, r2, n4, n5) ORDER BY r1""")),

    // ---- clientpositive/create_nested_type.q: array<map>, map<,array>
    //      columns through the separator ladder (levels ^B..^D)
    QueryDef(
      "q597_qf_create_nested_type",
      (s, dir) => {
        val t = s"nested_table1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""CREATE TABLE $t (a STRING, b ARRAY<STRING>,
                c ARRAY<MAP<STRING,STRING>>, d MAP<STRING,ARRAY<STRING>>)
              STORED AS TEXTFILE""")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/create_nested_type.txt' OVERWRITE INTO TABLE $t")
        HiveQl.sql(s,
          s"""SELECT a, concat_ws(',', b) AS b,
                size(c) AS nc, c[0]['c001'] AS c001, c[1]['c011'] AS c011,
                size(d) AS nd, concat_ws(',', d['d01']) AS d01
              FROM $t""").orderBy("a")
      },
      Some("""SELECT * FROM (VALUES
          ('a0', 'b00,b01', 2, 'C001', NULL, 2, 'd011,d012'),
          ('a1', 'b10', 1, 'C001', NULL, 2, 'd011,d012'),
          ('a2', '', 2, NULL, 'C011', 2, 'd012'),
          ('a3', '', -1, NULL, NULL, -1, ''))
          v(a, b, nc, c001, c011, nd, d01) ORDER BY a""")),

    // ---- clientpositive/show_functions.q: regex-filtered SHOW FUNCTIONS
    //      (Hive patterns are java regexes; membership facts keep the
    //      oracle independent of the registry's full inventory)
    QueryDef(
      "q599_qf_show_functions",
      (s, dir) => {
        fixtures(s, dir)
        val all = s.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
        def matches(re: String) = all.filter(_.matches(re))
        import s.implicits._
        Seq(
          ("c_star", matches("^c.*").contains("concat") &&
            matches("^c.*").contains("count") && matches("^c.*").forall(_.startsWith("c"))),
          ("e_end", matches(".*e$").contains("case") &&
            matches(".*e$").forall(_.endsWith("e"))),
          ("log", matches("log.*").contains("log") &&
            matches("log.*").contains("log2") &&
            matches("log.*").forall(_.startsWith("log"))),
          ("date", matches(".*date.*").contains("to_date") &&
            matches(".*date.*").contains("datediff"))
        ).toDF("leg", "ok").orderBy("leg")
      },
      Some("""SELECT * FROM (VALUES ('c_star', true), ('date', true),
              ('e_end', true), ('log', true)) v(leg, ok) ORDER BY leg""")),

    // ---- clientpositive/show_describe_func_quotes.q: quoted and bare
    //      names behave identically
    QueryDef(
      "q600_qf_show_describe_func_quotes",
      (s, dir) => {
        fixtures(s, dir)
        val q1 = HiveQl.sql(s, "SHOW FUNCTIONS 'concat'").collect().map(_.getString(0))
        val q2 = HiveQl.sql(s, "SHOW FUNCTIONS concat").collect().map(_.getString(0))
        val d1 = HiveQl.sql(s, "DESCRIBE FUNCTION 'concat'").collect().map(_.getString(0)).mkString
        val d2 = HiveQl.sql(s, "DESCRIBE FUNCTION concat").collect().map(_.getString(0)).mkString
        import s.implicits._
        Seq((q1.toSeq == Seq("concat"), q2.toSeq == Seq("concat"),
          d1.nonEmpty && d1 == d2)).toDF("quoted_show", "bare_show", "describe_same")
      },
      Some("SELECT true AS quoted_show, true AS bare_show, true AS describe_same")),

    // ---- clientpositive/alter1.q: TBLPROPERTIES / SERDEPROPERTIES / SET
    //      SERDE / EXTERNAL flip cycles + the second-database rerun
    QueryDef(
      "q601_qf_alter1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"alter1_$sfx"
        val db = s"alter1_db_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        HiveQl.sql(s, s"CREATE TABLE $t(a INT, b INT)")
        HiveQl.sql(s, s"ALTER TABLE $t SET TBLPROPERTIES ('a'='1', 'c'='3')")
        HiveQl.sql(s, s"ALTER TABLE $t SET TBLPROPERTIES ('a'='1', 'c'='4', 'd'='3')")
        HiveQl.sql(s, s"ALTER TABLE $t SET SERDEPROPERTIES('s1'='9')")
        HiveQl.sql(s, s"ALTER TABLE $t SET SERDEPROPERTIES('s1'='10', 's2'='20')")
        HiveQl.sql(s,
          s"ALTER TABLE $t SET SERDE 'org.apache.hadoop.hive.serde2.MetadataTypedColumnsetSerDe'")
        HiveQl.sql(s, s"ALTER TABLE $t REPLACE COLUMNS (a INT, b INT, c STRING)")
        def prop(k: String): String =
          s.sql(s"SHOW TBLPROPERTIES $t('$k')").collect()
            .headOption.map(_.getString(1)).getOrElse("?")
        val d = describeRows(s, t, 0).localCheckpoint(true)
        HiveQl.sql(s, s"CREATE DATABASE $db")
        HiveQl.sql(s, s"CREATE TABLE $db.alter1(a INT, b INT)")
        val inDb = describeRows(s, s"$db.alter1", 1).localCheckpoint(true)
        HiveQl.sql(s, s"DROP DATABASE $db CASCADE")
        import s.implicits._
        val props = Seq((9, 0, s"a=${prop("a")} c=${prop("c")} d=${prop("d")}", "props"))
          .toDF("stage", "idx", "col_name", "data_type")
        d.union(inDb).union(props).orderBy("stage", "idx")
      },
      Some("""SELECT * FROM (VALUES
          (0, 0, 'a', 'int'), (0, 1, 'b', 'int'), (0, 2, 'c', 'string'),
          (1, 0, 'a', 'int'), (1, 1, 'b', 'int'),
          (9, 0, 'a=1 c=4 d=3', 'props'))
          v(stage, idx, col_name, data_type) ORDER BY stage, idx""")),

    // ---- clientpositive/alter3.q: RENAME of a partitioned table keeps its
    //      partitions readable; special characters in partition values
    QueryDef(
      "q602_qf_alter3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (src0, t, tr) = (s"alter3_src_$sfx", s"alter3_$sfx", s"alter3_renamed_$sfx")
        fresh(s, src0, t, tr)
        HiveQl.sql(s, s"CREATE TABLE $src0 (col1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/test.dat' OVERWRITE INTO TABLE $src0")
        HiveQl.sql(s,
          s"""CREATE TABLE $t (col1 STRING)
              PARTITIONED BY (pcol1 STRING, pcol2 STRING) STORED AS SEQUENCEFILE""")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t PARTITION (pCol1='test_part:', pcol2='test_part:')
              SELECT col1 FROM $src0""")
        val c1 = HiveQl.sql(s,
          s"SELECT count(1) AS n FROM $t WHERE pcol1='test_part:' AND pcol2='test_part:'")
          .localCheckpoint(true)
        HiveQl.sql(s, s"ALTER TABLE $t RENAME TO $tr")
        val c2 = HiveQl.sql(s,
          s"SELECT count(1) AS n FROM $tr WHERE pcol1='test_part:' AND pcol2='test_part:'")
          .localCheckpoint(true)
        c1.withColumn("stage", lit(0)).union(c2.withColumn("stage", lit(1)))
          .orderBy("stage")
      },
      Some("""SELECT * FROM (VALUES (CAST(6 AS BIGINT), 0), (6, 1))
              v(n, stage) ORDER BY stage""")),

    // ---- clientpositive/alter4.q: NOT CLUSTERED drops the bucket spec
    QueryDef(
      "q603_qf_alter4",
      (s, dir) => {
        val t = s"set_bucketing_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"CREATE TABLE $t (key INT, value STRING) CLUSTERED BY (key) INTO 10 BUCKETS")
        def buckets: Int = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .bucketSpec.map(_.numBuckets).getOrElse(0)
        val before = buckets
        HiveQl.sql(s, s"ALTER TABLE $t NOT CLUSTERED")
        val after = buckets
        import s.implicits._
        Seq((before, after)).toDF("before", "after")
      },
      Some("SELECT 10 AS before, 0 AS after")),

    // ---- clientpositive/alter5.q: ADD PARTITION with an explicit
    //      LOCATION, then INSERT into it and read back
    QueryDef(
      "q604_qf_alter5",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (src0, t) = (s"alter5_src_$sfx", s"alter5_$sfx")
        fresh(s, src0, t)
        HiveQl.sql(s, s"CREATE TABLE $src0 (col1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/test.dat' OVERWRITE INTO TABLE $src0")
        HiveQl.sql(s, s"CREATE TABLE $t (col1 STRING) PARTITIONED BY (dt STRING)")
        val loc = s.conf.get("spark.sql.warehouse.dir") + s"/alter5_parta_$sfx"
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (dt='a') LOCATION '$loc'")
        HiveQl.sql(s,
          s"INSERT OVERWRITE TABLE $t PARTITION (dt='a') SELECT col1 FROM $src0")
        HiveQl.sql(s, s"SELECT * FROM $t WHERE dt='a'").orderBy("col1")
      },
      Some("""SELECT * FROM (VALUES ('1', 'a'), ('2', 'a'), ('3', 'a'),
              ('4', 'a'), ('5', 'a'), ('6', 'a')) v(col1, dt)
              ORDER BY col1"""))
  )
}
