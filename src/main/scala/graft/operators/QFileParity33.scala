package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 33 (round 15): the comprehensive
  * clientpositive/create_view.q battery — every view shape the reference
  * supports — plus protectmode.q.
  */
object QFileParity33 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, leg, legSql, RefData}
  import QFileParity.Lines.{facts, ordered}

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/create_view.q (key 86 -> 81, the fixture's
    //      quadratic-residue stand-in, the q148 precedent): named columns,
    //      TBLPROPERTIES + ALTER VIEW SET, schema freezing across base
    //      ALTERs, self-joins of views, ORDER/LIMIT in defs, UDF/UDAF/UDTF
    //      and LATERAL VIEW and TABLESAMPLE bodies, union+join+agg bodies,
    //      and DROP TABLE/VIEW IF EXISTS ignoring the other kind
    QueryDef(
      "q883_qf_create_view",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        def v(i: Int) = s"view${i}_q883_$sfx"
        val t1 = s"table1_q883_$sfx"
        val sb = s"srcbucket_q883_$sfx"
        val srcT = s"src_q883_$sfx"
        (1 to 16).foreach(i => HiveQl.sql(s, s"DROP VIEW IF EXISTS ${v(i)}"))
        fresh(s, t1, sb, srcT)
        // permanent views cannot reference the session's temp src view —
        // the reference's src IS a real table (QTestUtil), so materialize it
        HiveQl.sql(s, s"create table $srcT as select * from src")
        for (f <- Seq("test_translate_q883", "test_max_q883", "test_explode_q883"))
          HiveQl.sql(s, s"DROP TEMPORARY FUNCTION IF EXISTS $f")
        HiveQl.sql(s, s"CREATE VIEW ${v(1)} AS SELECT value FROM $srcT WHERE key=81")
        HiveQl.sql(s, s"CREATE VIEW ${v(2)} AS SELECT * FROM $srcT")
        HiveQl.sql(s, s"""CREATE VIEW ${v(3)}(valoo)
          TBLPROPERTIES ("fear" = "factor")
          AS SELECT upper(value) FROM $srcT WHERE key=81""")
        val d0 = leg(0, HiveQl.sql(s, s"SELECT * from ${v(1)}")).localCheckpoint(true)
        val d1 = leg(1, HiveQl.sql(s, s"SELECT * from ${v(2)} where key=18"))
          .localCheckpoint(true)
        val d2 = leg(2, HiveQl.sql(s, s"SELECT * from ${v(3)}")).localCheckpoint(true)
        val cat = s.sessionState.catalog
        def props(x: String): Map[String, String] =
          cat.getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(x)).properties
        def cols(x: String): String =
          HiveQl.sql(s, s"DESCRIBE $x").collect().map(_.getString(0))
            .filterNot(c => c.isEmpty || c.startsWith("#")).distinct.mkString(",")
        HiveQl.sql(s, s"""ALTER VIEW ${v(3)} SET TBLPROPERTIES ("biggest" = "loser")""")
        val f3 = facts(s, 3, Seq(
          "view3_cols" -> cols(v(3)),
          "fear" -> props(v(3)).getOrElse("fear", "-"),
          "biggest" -> props(v(3)).getOrElse("biggest", "-"),
          "show_views" -> (HiveQl.sql(s, s"SHOW TABLES 'view.*_q883_$sfx'").count() >= 3).toString))
        // schema freezing: the view keeps its creation-time columns after
        // the base table widens
        HiveQl.sql(s, s"CREATE TABLE $t1 (key int)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t1 SELECT key FROM src WHERE key = 81")
        HiveQl.sql(s, s"CREATE VIEW ${v(4)} AS SELECT * FROM $t1")
        HiveQl.sql(s, s"ALTER TABLE $t1 ADD COLUMNS (value STRING)")
        val f4 = facts(s, 4, Seq(
          "table1_cols" -> cols(t1),
          "view4_cols" -> cols(v(4)),
          "view4_rows" -> HiveQl.sql(s, s"SELECT * FROM ${v(4)}").count().toString))
        HiveQl.sql(s, s"""CREATE VIEW ${v(5)} AS SELECT v1.key as key1, v2.key as key2
          FROM ${v(4)} v1 join ${v(4)} v2""")
        val d5 = leg(5, HiveQl.sql(s, s"SELECT * FROM ${v(5)}")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(6)}(valoo COMMENT 'I cannot spell') AS
          SELECT upper(value) as blarg FROM $srcT WHERE key=81""")
        val f6 = facts(s, 6, Seq("view6_cols" -> cols(v(6))))
        HiveQl.sql(s, s"""CREATE VIEW ${v(7)} AS
          SELECT * FROM $srcT
          WHERE key > 80 AND key < 100
          ORDER BY key, value
          LIMIT 10""")
        val d7 = leg(7, HiveQl.sql(s, s"SELECT * FROM ${v(7)}")).localCheckpoint(true)
        val d7b = leg(70, HiveQl.sql(s, s"SELECT * FROM ${v(7)} ORDER BY key DESC, value"))
          .localCheckpoint(true)
        val f7c = facts(s, 71, Seq(
          "limit5" -> HiveQl.sql(s, s"SELECT * FROM ${v(7)} LIMIT 5").count().toString,
          "limit20" -> HiveQl.sql(s, s"SELECT * FROM ${v(7)} LIMIT 20").count().toString))
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_translate_q883 AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestTranslate'")
        HiveQl.sql(s, s"""CREATE VIEW ${v(8)}(c) AS
          SELECT test_translate_q883('abc', 'a', 'b')
          FROM $t1""")
        val d8 = leg(8, HiveQl.sql(s, s"SELECT * FROM ${v(8)}")).localCheckpoint(true)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_max_q883 AS " +
          "'org.apache.hadoop.hive.ql.udf.UDAFTestMax'")
        HiveQl.sql(s, s"""CREATE VIEW ${v(9)}(m) AS
          SELECT test_max_q883(length(value))
          FROM $srcT""")
        val d9 = leg(9, HiveQl.sql(s, s"SELECT * FROM ${v(9)}")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(10)} AS
          SELECT slurp.* FROM (SELECT * FROM $srcT WHERE key=81) slurp""")
        val d10 = leg(10, HiveQl.sql(s, s"SELECT * FROM ${v(10)}")).localCheckpoint(true)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_explode_q883 AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDTFExplode'")
        HiveQl.sql(s, s"""CREATE VIEW ${v(11)} AS
          SELECT test_explode_q883(array(1,2,3)) AS boom
          FROM $t1""")
        val d11 = leg(11, HiveQl.sql(s, s"SELECT * FROM ${v(11)}")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(12)} AS
          SELECT * FROM $srcT LATERAL VIEW explode(array(1,2,3)) myTable AS myCol""")
        val d12 = leg(12, HiveQl.sql(s,
          s"SELECT * FROM ${v(12)} ORDER BY key ASC, myCol ASC LIMIT 1")).localCheckpoint(true)
        val d12b = leg(120, HiveQl.sql(s,
          s"""SELECT * FROM ${v(2)} LATERAL VIEW explode(array(1,2,3)) myTable AS myCol
             ORDER BY key ASC, myCol ASC LIMIT 1""")).localCheckpoint(true)
        // TABLESAMPLE body over the loaded bucket fixture
        HiveQl.sql(s, s"CREATE TABLE $sb(key int, value string) CLUSTERED BY (key) " +
          "INTO 2 BUCKETS STORED AS TEXTFILE")
        for (f <- Seq("srcbucket0", "srcbucket1"))
          HiveQl.sql(s, s"load data local inpath '$RefData/$f.txt' " +
            s"INTO TABLE $sb")
        HiveQl.sql(s, s"""CREATE VIEW ${v(13)} AS
          SELECT s.key
          FROM $sb TABLESAMPLE (BUCKET 1 OUT OF 5 ON key) s""")
        val d13 = leg(13, HiveQl.sql(s,
          s"SELECT * FROM ${v(13)} ORDER BY key LIMIT 12")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(14)} AS
          SELECT unionsrc1.key as k1, unionsrc1.value as v1,
                 unionsrc2.key as k2, unionsrc2.value as v2
          FROM (select 'tst1' as key, cast(count(1) as string) as value from $srcT s1
                                   UNION  ALL
                select s2.key as key, s2.value as value from $srcT s2 where s2.key < 10) unionsrc1
          JOIN
               (select 'tst1' as key, cast(count(1) as string) as value from $srcT s3
                                   UNION  ALL
                select s4.key as key, s4.value as value from $srcT s4 where s4.key < 10) unionsrc2
          ON (unionsrc1.key = unionsrc2.key)""")
        val d14 = leg(14, HiveQl.sql(s, s"SELECT * FROM ${v(14)}")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(15)} AS
          SELECT key,COUNT(value) AS value_count
          FROM $srcT
          GROUP BY key""")
        val d15 = leg(15, HiveQl.sql(s,
          s"SELECT * FROM ${v(15)} ORDER BY value_count DESC, key LIMIT 10")).localCheckpoint(true)
        HiveQl.sql(s, s"""CREATE VIEW ${v(16)} AS
          SELECT DISTINCT value
          FROM $srcT""")
        val d16 = leg(16, HiveQl.sql(s,
          s"SELECT * FROM ${v(16)} ORDER BY value LIMIT 10")).localCheckpoint(true)
        // DROP TABLE IF EXISTS ignores a view name and vice versa
        HiveQl.sql(s, s"DROP TABLE IF EXISTS ${v(16)}")
        HiveQl.sql(s, s"DROP VIEW IF EXISTS $t1")
        val f17 = facts(s, 17, Seq(
          "view16_survives" -> (HiveQl.sql(s, s"DESCRIBE ${v(16)}").count() > 0).toString,
          "table1_survives" -> (HiveQl.sql(s, s"DESCRIBE $t1").count() > 0).toString))
        (1 to 16).foreach(i => HiveQl.sql(s, s"DROP VIEW ${v(i)}"))
        HiveQl.sql(s, s"DROP TABLE $t1")
        HiveQl.sql(s, s"DROP TABLE $sb")
        HiveQl.sql(s, s"DROP TABLE $srcT")
        for (f <- Seq("test_translate_q883", "test_max_q883", "test_explode_q883"))
          HiveQl.sql(s, s"DROP TEMPORARY FUNCTION $f")
        ordered(Seq(d0, d1, d2, f3, f4, d5, f6, d7, d7b, f7c, d8, d9, d10,
          d11, d12, d12b, d13, d14, d15, d16, f17))
      },
      Some {
        val sb = s"""sbf AS (SELECT * FROM read_csv('$RefData/srcbucket0.txt',
            delim=chr(1), header=false, auto_detect=false, quote='',
            columns={'key': 'INT', 'value': 'VARCHAR'})
          UNION ALL SELECT * FROM read_csv('$RefData/srcbucket1.txt',
            delim=chr(1), header=false, auto_detect=false, quote='',
            columns={'key': 'INT', 'value': 'VARCHAR'}))"""
        s"""$SrcCte, $sb,
        k81 AS (SELECT * FROM src WHERE key = '81'),
        small AS (SELECT key, value FROM src WHERE CAST(key AS DOUBLE) < 10),
        u AS (SELECT 'tst1' AS key, CAST(count(1) AS VARCHAR) AS value FROM src
              UNION ALL SELECT key, value FROM small),
        rng AS (SELECT CAST(key AS INT) AS k, value FROM src
                WHERE CAST(key AS DOUBLE) > 80 AND CAST(key AS DOUBLE) < 100),
        v7 AS (SELECT k, value FROM rng ORDER BY k, value LIMIT 10),
        gb AS (SELECT key, count(value) AS c FROM src GROUP BY key
               ORDER BY c DESC, key LIMIT 10),
        dv AS (SELECT DISTINCT value FROM src ORDER BY value LIMIT 10),
        legs AS (
          ${legSql(0, Seq("value"), "FROM k81")}
          UNION ALL ${legSql(1, Seq("key", "value"), "FROM src WHERE key = '18'")}
          UNION ALL ${legSql(2, Seq("upper(value)"), "FROM k81")}
          UNION ALL SELECT * FROM (VALUES
            (3, 'biggest|loser'), (3, 'fear|factor'),
            (3, 'show_views|true'), (3, 'view3_cols|valoo'),
            (4, 'table1_cols|key,value'), (4, 'view4_cols|key'), (4, 'view4_rows|4'),
            (6, 'view6_cols|valoo'),
            (71, 'limit20|10'), (71, 'limit5|5'),
            (17, 'table1_survives|true'), (17, 'view16_survives|true')) f(sec, c1)
          UNION ALL SELECT 5, a.k1 || '|' || b.k1 FROM
            (SELECT CAST(key AS VARCHAR) AS k1 FROM k81) a,
            (SELECT CAST(key AS VARCHAR) AS k1 FROM k81) b
          UNION ALL ${legSql(7, Seq("k", "value"), "FROM v7")}
          UNION ALL ${legSql(70, Seq("k", "value"), "FROM v7")}
          UNION ALL SELECT 8, 'bbc' FROM k81
          UNION ALL SELECT 9, CAST(max(length(value)) AS VARCHAR) FROM src
          UNION ALL ${legSql(10, Seq("key", "value"), "FROM k81")}
          UNION ALL SELECT 11, CAST(b.x AS VARCHAR) FROM k81,
            (SELECT * FROM (VALUES (1),(2),(3)) w(x)) b
          UNION ALL SELECT 12, '0|val_0|1'
          UNION ALL SELECT 120, '0|val_0|1'
          UNION ALL SELECT 13, CAST(key AS VARCHAR) FROM
            (SELECT key FROM sbf WHERE (key & 2147483647) % 5 = 0
             ORDER BY key LIMIT 12) x
          UNION ALL ${legSql(14, Seq("a.key", "a.value", "b.key", "b.value"),
            "FROM u a JOIN u b ON a.key = b.key")}
          UNION ALL ${legSql(15, Seq("key", "c"), "FROM gb")}
          UNION ALL ${legSql(16, Seq("value"), "FROM dv")})
        SELECT * FROM legs ORDER BY sec, c1"""
      })
  )
}
