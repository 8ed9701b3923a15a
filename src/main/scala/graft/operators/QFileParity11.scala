package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 11 (round 12): the small singles — subquery
  * aliasing shapes, empty-partition scans, a script over a zero-byte load,
  * the quote/escape literal battery, INSERT OVERWRITE DIRECTORY read-back,
  * partial-spec partition drops, and the DROP ... IF EXISTS family under
  * hive.exec.drop.ignorenonexistent=false (IF EXISTS must win).
  */
object QFileParity11 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/noalias_subq1.q: outer filter on a subquery
    //      alias that the projection drops
    QueryDef(
      "q605_qf_noalias_subq1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT c1 FROM (select value as c1, key as c2 from src) x where c2 < 100")
          .orderBy("c1")
      },
      Some(s"""$SrcCte SELECT value AS c1 FROM src
               WHERE TRY_CAST(key AS DOUBLE) < 100 ORDER BY c1""")),

    // ---- clientpositive/nullinput2.q: scans of a partitioned table with
    //      NO partitions return empty, with and without aggregation
    QueryDef(
      "q606_qf_nullinput2",
      (s, dir) => {
        val t = s"nulltbl_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key INT) PARTITIONED BY (ds STRING)")
        HiveQl.sql(s,
          s"""SELECT (SELECT count(key) FROM $t WHERE ds='101') AS n_rows,
                     (SELECT count(1) FROM $t WHERE ds='101') AS n_count""")
      },
      Some("SELECT CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_count")),

    // ---- clientpositive/nullscript.q: a zero-byte file appended to the
    //      load must flow through the script operator as zero rows
    QueryDef(
      "q607_qf_nullscript",
      (s, dir) => {
        val t = s"nullscript_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(KEY STRING, VALUE STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/nullfile.txt' INTO TABLE $t")
        HiveQl.sql(s,
          s"SELECT TRANSFORM(key) USING '/bin/cat' AS key1 FROM $t")
          .orderBy("key1")
      },
      Some(s"""WITH kv1 AS (SELECT * FROM read_csv('$RefData/kv1.txt', delim=chr(1),
            header=false, auto_detect=false, quote='',
            columns={'key': 'VARCHAR', 'value': 'VARCHAR'}))
          SELECT key AS key1 FROM kv1 ORDER BY key1""")),

    // ---- clientpositive/quote2.q: the single/double-quote escape ladder
    //      (every cell transcribed; the oracle spells the expected bytes
    //      through chr() so no second escaping layer can lie)
    QueryDef(
      "q608_qf_quote2",
      (s, dir) => {
        fixtures(s, dir)
        val cells = Seq("'abc'" + " AS c1",
          "\"abc\"" + " AS c2",
          "'abc\\''" + " AS c3",
          "\"abc\\\"\"" + " AS c4",
          "'abc\\\\'" + " AS c5",
          "\"abc\\\\\"" + " AS c6",
          "'abc\\\\\\''" + " AS c7",
          "\"abc\\\\\\\"\"" + " AS c8",
          "'abc\\\\\\\\'" + " AS c9",
          "\"abc\\\\\\\\\"" + " AS c10",
          "'abc\\\\\\\\\\''" + " AS c11",
          "\"abc\\\\\\\\\\\"\"" + " AS c12",
          "'abc\\\\\\\\\\\\'" + " AS c13",
          "\"abc\\\\\\\\\\\\\"" + " AS c14",
          "'abc\"\"\"\"\\\\'" + " AS c15",
          "\"abc''''\\\\\"" + " AS c16",
          "\"awk '{print NR\\\"\\\\t\\\"$0}'\"" + " AS c17",
          "'tab\\ttab'" + " AS c18",
          "\"tab\\ttab\"" + " AS c19")
        HiveQl.sql(s, "SELECT " + cells.mkString(", ") + " FROM src LIMIT 1")
      },
      Some("""SELECT
          'abc' AS c1, 'abc' AS c2,
          'abc' || chr(39) AS c3, 'abc' || chr(34) AS c4,
          'abc' || chr(92) AS c5, 'abc' || chr(92) AS c6,
          'abc' || chr(92) || chr(39) AS c7, 'abc' || chr(92) || chr(34) AS c8,
          'abc' || chr(92) || chr(92) AS c9, 'abc' || chr(92) || chr(92) AS c10,
          'abc' || chr(92) || chr(92) || chr(39) AS c11,
          'abc' || chr(92) || chr(92) || chr(34) AS c12,
          'abc' || chr(92) || chr(92) || chr(92) AS c13,
          'abc' || chr(92) || chr(92) || chr(92) AS c14,
          'abc' || repeat(chr(34), 4) || chr(92) AS c15,
          'abc' || repeat(chr(39), 4) || chr(92) AS c16,
          'awk ' || chr(39) || '{print NR' || chr(34) || chr(92) || 't'
            || chr(34) || '$0}' || chr(39) AS c17,
          'tab' || chr(9) || 'tab' AS c18, 'tab' || chr(9) || 'tab' AS c19""")),

    // ---- clientpositive/select_as_omitted.q: bare column aliases without AS
    QueryDef(
      "q609_qf_select_as_omitted",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT a, b FROM (SELECT key a, value b FROM src) src1
             ORDER BY a LIMIT 1""")
      },
      Some(s"$SrcCte SELECT key AS a, value AS b FROM src ORDER BY a LIMIT 1")),

    // ---- clientpositive/subq.q: subquery star into INSERT OVERWRITE
    //      DIRECTORY, read back from the directory (the .q's dfs -cat)
    QueryDef(
      "q610_qf_subq",
      (s, dir) => {
        fixtures(s, dir)
        val out = s.conf.get("spark.sql.warehouse.dir") +
          s"/subq_union_out_${fixtures(s, dir)}"
        HiveQl.sql(s,
          s"""FROM (FROM src select src.* WHERE src.key < 100) unioninput
              INSERT OVERWRITE DIRECTORY '$out' SELECT unioninput.*""")
        s.read.format("graft.sources.HiveTextSource")
          .schema("key STRING, value STRING").load(out)
          .orderBy("key", "value")
      },
      Some(s"""$SrcCte SELECT key, value FROM src
               WHERE TRY_CAST(key AS DOUBLE) < 100 ORDER BY key, value""")),

    // ---- clientpositive/subq2.q: aggregate subquery under an outer range
    //      filter (string-vs-int coercion on the group key)
    QueryDef(
      "q611_qf_subq2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT a.k, a.c
             FROM (SELECT b.key as k, count(1) as c FROM src b GROUP BY b.key) a
             WHERE a.k >= 90""").orderBy("k")
      },
      Some(s"""$SrcCte
        SELECT key AS k, count(1) AS c FROM src
        GROUP BY key HAVING TRY_CAST(key AS DOUBLE) >= 90 ORDER BY k""")),

    // ---- clientpositive/drop_multi_partitions.q: a PARTIAL partition
    //      spec drops every matching partition; IF EXISTS tolerates a
    //      no-match spec even under ignorenonexistent=false
    QueryDef(
      "q612_qf_drop_multi_partitions",
      (s, dir) => {
        val t = s"mp_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(a STRING) PARTITIONED BY (b STRING, c STRING)")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (b='1', c='1')")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (b='1', c='2')")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (b='2', c='2')")
        val p1 = HiveQl.sql(s, s"SHOW PARTITIONS $t")
          .selectExpr("0 AS stage", "partition AS v").localCheckpoint(true)
        HiveQl.sql(s, s"ALTER TABLE $t DROP PARTITION (b='1')")
        val p2 = HiveQl.sql(s, s"SHOW PARTITIONS $t")
          .selectExpr("1 AS stage", "partition AS v").localCheckpoint(true)
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, s"ALTER TABLE $t DROP IF EXISTS PARTITION (b='3')")
        val p3 = HiveQl.sql(s, s"SHOW PARTITIONS $t")
          .selectExpr("2 AS stage", "partition AS v").localCheckpoint(true)
        p1.union(p2).union(p3).orderBy("stage", "v")
      },
      Some("""SELECT * FROM (VALUES
          (0, 'b=1/c=1'), (0, 'b=1/c=2'), (0, 'b=2/c=2'),
          (1, 'b=2/c=2'), (2, 'b=2/c=2'))
          v(stage, v) ORDER BY stage, v""")),

    // ---- clientpositive/drop_table.q
    QueryDef(
      "q613_qf_drop_table",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, "DROP TABLE IF EXISTS UnknownTable_qf613")
        import s.implicits._
        Seq(true).toDF("ok")
      },
      Some("SELECT true AS ok")),

    // ---- clientpositive/drop_view.q
    QueryDef(
      "q614_qf_drop_view",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, "DROP VIEW IF EXISTS UnknownView_qf614")
        import s.implicits._
        Seq(true).toDF("ok")
      },
      Some("SELECT true AS ok")),

    // ---- clientpositive/drop_function.q
    QueryDef(
      "q615_qf_drop_function",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION IF EXISTS UnknownFunction_qf615")
        import s.implicits._
        Seq(true).toDF("ok")
      },
      Some("SELECT true AS ok")),

    // ---- clientpositive/drop_index.q
    QueryDef(
      "q616_qf_drop_index",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.exec.drop.ignorenonexistent=false")
        HiveQl.sql(s, "DROP INDEX IF EXISTS UnknownIndex_qf616 ON src")
        import s.implicits._
        Seq(true).toDF("ok")
      },
      Some("SELECT true AS ok"))
  )
}
