package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 24 (round 14): the index .q long tail —
  * index_auto_file_format, index_auto_mult_tables[_compact],
  * index_bitmap_auto[_partitioned], index_bitmap_rc,
  * index_[bitmap_]compression, index_creation, index_stale_partitioned,
  * index_auth. Same conventions as QFileParity20 (the first index
  * tranche): COMPACT/BITMAP index tables under Hive's
  * default__<table>_<index>__ naming, manual `_bucketname`/`_offsets`/
  * `_bitmaps` extraction, and the IndexFilterRewrite auto path standing in
  * for hive.optimize.index.filter. Machine-dependent values (paths,
  * offsets) pin SHAPE via facts; every base-table SELECT is value-oracled.
  */
object QFileParity24 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, dump, srcTable, srcpartTable, idxTable,
    extractDir, dirNonEmpty}
  import QFileParity.Pairs.{facts, ordered}

  /** index_[bitmap_]compression shared shape: hive.exec.compress.result
    * around an indexed range scan. */
  private def compressed(qn: String, qf: String, handler: String) = QueryDef(
    s"${qn}_qf_$qf",
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val t = srcTable(s, qn, sfx)
      HiveQl.sql(s, "SET hive.exec.compress.result=true")
      HiveQl.sql(s, s"drop index if exists src_index on $t")
      HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as '$handler' " +
        "WITH DEFERRED REBUILD")
      HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
      HiveQl.sql(s, "SET hive.optimize.index.filter=true")
      HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
      val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
        "WHERE key > 80 AND key < 100 ORDER BY key"), 0, "key", "value")
      HiveQl.sql(s, s"DROP INDEX src_index on $t")
      HiveQl.sql(s, "SET hive.exec.compress.result=false")
      d0
    },
    Some(s"""$SrcCte, legs AS (
        SELECT 0 AS sec, key AS c1, value AS c2 FROM src
        WHERE TRY_CAST(key AS DOUBLE) > 80 AND TRY_CAST(key AS DOUBLE) < 100)
        SELECT * FROM legs ORDER BY sec, c1, c2"""))

  /** index_auto_mult_tables[_compact] shared shape: the same two-table
    * join before and after indexing both sides. */
  private def multTables(qn: String, qf: String, handler: String) = QueryDef(
    s"${qn}_qf_$qf",
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val a = srcTable(s, qn, sfx)
      val b = srcpartTable(s, qn, sfx)
      def body(sec: Int) = dump(HiveQl.sql(s,
        s"""SELECT a.key, a.value FROM $a a JOIN $b b ON (a.key = b.key)
            WHERE a.key > 80 AND a.key < 100 AND b.key > 70 AND b.key < 90
            ORDER BY a.key"""), sec, "key", "value")
      val d0 = body(0) // without indexing
      HiveQl.sql(s, s"drop index if exists src_index on $a")
      HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $a(key) as '$handler' " +
        "WITH DEFERRED REBUILD")
      HiveQl.sql(s, s"ALTER INDEX src_index ON $a REBUILD")
      HiveQl.sql(s, s"drop index if exists srcpart_index on $b")
      HiveQl.sql(s, s"CREATE INDEX srcpart_index ON TABLE $b(key) as '$handler' " +
        "WITH DEFERRED REBUILD")
      HiveQl.sql(s, s"ALTER INDEX srcpart_index ON $b REBUILD")
      HiveQl.sql(s, "SET hive.optimize.index.filter=true")
      HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
      val d1 = body(1) // automatic indexing
      HiveQl.sql(s, s"DROP INDEX src_index on $a")
      HiveQl.sql(s, s"DROP INDEX srcpart_index on $b")
      ordered(Seq(d0, d1))
    },
    Some(s"""$SrcPartCte,
        j AS (SELECT a.key, a.value FROM src a JOIN srcpart b ON a.key = b.key
              WHERE TRY_CAST(a.key AS DOUBLE) > 80 AND TRY_CAST(a.key AS DOUBLE) < 100
                AND TRY_CAST(b.key AS DOUBLE) > 70 AND TRY_CAST(b.key AS DOUBLE) < 90),
        legs AS (SELECT 0 AS sec, key AS c1, value AS c2 FROM j
                 UNION ALL SELECT 1, key, value FROM j)
        SELECT * FROM legs ORDER BY sec, c1, c2"""))

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/index_auto_file_format.q: automatic index use
    //      under both hive.input.format settings
    QueryDef(
      "q775_qf_index_auto_file_format",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q775", sfx)
        HiveQl.sql(s, s"drop index if exists src_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
        HiveQl.sql(s,
          "SET hive.input.format=org.apache.hadoop.hive.ql.io.HiveInputFormat")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        val d0 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 ORDER BY key"), 0, "key", "value")
        HiveQl.sql(s,
          "SET hive.input.format=org.apache.hadoop.hive.ql.io.CombineHiveInputFormat")
        val d1 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 ORDER BY key"), 1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_index on $t")
        ordered(Seq(d0, d1))
      },
      Some(s"""$SrcCte,
          f AS (SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) = 100),
          legs AS (SELECT 0 AS sec, key AS c1, value AS c2 FROM f
                   UNION ALL SELECT 1, key, value FROM f)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_mult_tables.q (BITMAP) and
    //      index_auto_mult_tables_compact.q (COMPACT)
    multTables("q776", "index_auto_mult_tables", "BITMAP"),
    // clientpositive/index_auto_mult_tables_compact.q
    multTables("q777", "index_auto_mult_tables_compact", "COMPACT"),

    // ---- clientpositive/index_bitmap_auto.q: two bitmap indexes, manual
    //      EWAH-AND extraction to a directory, then the automatic path
    QueryDef(
      "q778_qf_index_bitmap_auto",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q778", sfx)
        val d0 = dump(HiveQl.sql(s,
          s"""SELECT key, value FROM $t WHERE key=0 AND value = "val_0" ORDER BY key"""),
          0, "key", "value")
        HiveQl.sql(s, s"drop index if exists src1_index on $t")
        HiveQl.sql(s, s"drop index if exists src2_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src1_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"CREATE INDEX src2_index ON TABLE $t(value) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src1_index ON $t REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src2_index ON $t REBUILD")
        val (i1, i2) = (idxTable(t, "src1_index"), idxTable(t, "src2_index"))
        val f1 = facts(s, 1, Seq(
          "idx1_rows_for_key0" -> (HiveQl.sql(s,
            s"SELECT count(*) FROM $i1 WHERE key = 0").collect()(0)
            .getLong(0) > 0).toString,
          "idx2_rows_for_val0" -> (HiveQl.sql(s,
            s"""SELECT count(*) FROM $i2 WHERE value = "val_0"""").collect()(0)
            .getLong(0) > 0).toString))
        // manual indexing: EWAH-AND the two indexes into a result directory
        val ed = extractDir(s, "q778", sfx)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE DIRECTORY "$ed"
              SELECT a.bucketname AS `_bucketname`, to_json(COLLECT_SET(a.offset)) as `_offsets`
              FROM (SELECT `_bucketname` AS bucketname, `_offset` AS offset,
                      `_bitmaps` AS bitmaps FROM $i1 WHERE key = 0) a
              JOIN (SELECT `_bucketname` AS bucketname, `_offset` AS offset,
                      `_bitmaps` AS bitmaps FROM $i2 WHERE value = "val_0") b
              ON a.bucketname = b.bucketname AND a.offset = b.offset
              WHERE NOT EWAH_BITMAP_EMPTY(EWAH_BITMAP_AND(a.bitmaps, b.bitmaps))
              GROUP BY a.bucketname""")
        val f2 = facts(s, 2, Seq("extracted" -> dirNonEmpty(s, ed).toString))
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        val d3 = dump(HiveQl.sql(s,
          s"""SELECT key, value FROM $t WHERE key=0 AND value = "val_0" ORDER BY key"""),
          3, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src1_index ON $t")
        HiveQl.sql(s, s"DROP INDEX src2_index ON $t")
        ordered(Seq(d0, f1, f2, d3))
      },
      Some(s"""$SrcCte,
          f AS (SELECT key, value FROM src
                WHERE TRY_CAST(key AS DOUBLE) = 0 AND value = 'val_0'),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM f
            UNION ALL SELECT 1, 'idx1_rows_for_key0', 'true'
            UNION ALL SELECT 1, 'idx2_rows_for_val0', 'true'
            UNION ALL SELECT 2, 'extracted', 'true'
            UNION ALL SELECT 3, key, value FROM f)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_bitmap_auto_partitioned.q: automatic use
    //      of a bitmap index on a partitioned base
    QueryDef(
      "q779_qf_index_bitmap_auto_partitioned",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q779", sfx)
        HiveQl.sql(s, s"drop index if exists src_part_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_part_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_part_index ON $t REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        val d0 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 AND ds='2008-04-09' ORDER BY key"),
          0, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_part_index ON $t")
        d0
      },
      Some(s"""$SrcPartCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM srcpart
          WHERE TRY_CAST(key AS DOUBLE) = 100 AND ds = '2008-04-09')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_bitmap_rc.q: bitmap index over an RCFILE
    //      partitioned base, directory extraction at two partition scopes,
    //      then the unscoped shape after a rebuild
    QueryDef(
      "q780_qf_index_bitmap_rc",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"srcpart_rc_q780_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key int, value string) " +
          "PARTITIONED BY (ds string, hr int) STORED AS RCFILE")
        for (ds <- Seq("2008-04-08", "2008-04-09"); hr <- Seq(11, 12))
          HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds='$ds', hr=$hr) " +
            s"SELECT key, value FROM srcpart WHERE ds = '$ds' AND hr = $hr")
        HiveQl.sql(s, s"drop index if exists srcpart_rc_index on $t")
        HiveQl.sql(s, s"CREATE INDEX srcpart_rc_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX srcpart_rc_index ON $t REBUILD")
        val it = idxTable(t, "srcpart_rc_index")
        val f0 = facts(s, 0, Seq("idx_part_rows" -> (HiveQl.sql(s,
          s"SELECT count(*) FROM $it x WHERE x.ds = '2008-04-08' and x.hr = 11")
          .collect()(0).getLong(0) > 0).toString))
        val ed = extractDir(s, "q780", sfx)
        HiveQl.sql(s,
          s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`,
              to_json(COLLECT_SET(`_offset`)) as `_offsets` FROM $it x
              WHERE NOT EWAH_BITMAP_EMPTY(`_bitmaps`) AND x.key=100
                AND x.ds = '2008-04-08' GROUP BY `_bucketname`""")
        val f1 = facts(s, 1, Seq("extracted_ds" -> dirNonEmpty(s, ed).toString))
        val d2 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 AND ds = '2008-04-08' ORDER BY key"),
          2, "key", "value")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`,
              to_json(COLLECT_SET(`_offset`)) as `_offsets` FROM $it x
              WHERE NOT EWAH_BITMAP_EMPTY(`_bitmaps`) AND x.key=100
                AND x.ds = '2008-04-08' and x.hr = 11 GROUP BY `_bucketname`""")
        val f3 = facts(s, 3, Seq("extracted_ds_hr" -> dirNonEmpty(s, ed).toString))
        val d4 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 AND ds = '2008-04-08' and hr = 11 " +
            "ORDER BY key"), 4, "key", "value")
        HiveQl.sql(s, s"DROP INDEX srcpart_rc_index on $t")
        // second cycle: recreate, rebuild, unscoped extraction + read
        HiveQl.sql(s, s"CREATE INDEX srcpart_rc_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX srcpart_rc_index ON $t REBUILD")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`,
              to_json(COLLECT_SET(`_offset`)) as `_offsets` FROM $it
              WHERE NOT EWAH_BITMAP_EMPTY(`_bitmaps`) AND key=100
              GROUP BY `_bucketname`""")
        val f5 = facts(s, 5, Seq("extracted_all" -> dirNonEmpty(s, ed).toString))
        val d6 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=100 ORDER BY key"), 6, "key", "value")
        HiveQl.sql(s, s"DROP INDEX srcpart_rc_index on $t")
        HiveQl.sql(s, s"DROP TABLE $t")
        ordered(Seq(f0, f1, d2, f3, d4, f5, d6))
      },
      Some(s"""$SrcPartCte,
          k AS (SELECT CAST(key AS INT) AS key, value, ds, hr FROM srcpart
                WHERE TRY_CAST(key AS DOUBLE) = 100),
          legs AS (
            SELECT 0 AS sec, 'idx_part_rows' AS c1, 'true' AS c2
            UNION ALL SELECT 1, 'extracted_ds', 'true'
            UNION ALL SELECT 2, CAST(key AS VARCHAR), value FROM k WHERE ds = '2008-04-08'
            UNION ALL SELECT 3, 'extracted_ds_hr', 'true'
            UNION ALL SELECT 4, CAST(key AS VARCHAR), value FROM k
              WHERE ds = '2008-04-08' AND hr = '11'
            UNION ALL SELECT 5, 'extracted_all', 'true'
            UNION ALL SELECT 6, CAST(key AS VARCHAR), value FROM k)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_compression.q / index_bitmap_compression.q
    compressed("q781", "index_compression", "COMPACT"),
    // clientpositive/index_bitmap_compression.q
    compressed("q782", "index_bitmap_compression", "BITMAP"),

    // ---- clientpositive/index_creation.q: the CREATE INDEX DDL battery —
    //      IN TABLE names, ROW FORMAT / STORED AS tails, IDXPROPERTIES /
    //      TBLPROPERTIES, backticked `_t`(`_i`,`_j`) bases
    QueryDef(
      "q783_qf_index_creation",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q783", sfx)
        val ut = s"_t_q783_$sfx"
        for (i <- 2 to 9) HiveQl.sql(s, s"drop index if exists src_index_$i on $t")
        HiveQl.sql(s, s"drop table if exists `$ut`")
        HiveQl.sql(s, s"create index src_index_2 on table $t(key) as 'compact' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"create index src_index_3 on table $t(key) as 'compact' " +
          s"WITH DEFERRED REBUILD in table src_idx_src_index_3_$sfx")
        HiveQl.sql(s, s"create index src_index_4 on table $t(key) as 'compact' " +
          "WITH DEFERRED REBUILD ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' " +
          "STORED AS TEXTFILE")
        HiveQl.sql(s, s"create index src_index_5 on table $t(key) as 'compact' " +
          "WITH DEFERRED REBUILD ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' " +
          "ESCAPED BY '\\\\'")
        HiveQl.sql(s, s"create index src_index_6 on table $t(key) as 'compact' " +
          "WITH DEFERRED REBUILD STORED AS RCFILE")
        HiveQl.sql(s, s"create index src_index_7 on table $t(key) as 'compact' " +
          s"WITH DEFERRED REBUILD in table src_idx_src_index_7_$sfx STORED AS RCFILE")
        HiveQl.sql(s, s"create index src_index_8 on table $t(key) as 'compact' " +
          """WITH DEFERRED REBUILD IDXPROPERTIES ("prop1"="val1", "prop2"="val2")""")
        HiveQl.sql(s, s"create index src_index_9 on table $t(key) as 'compact' " +
          """WITH DEFERRED REBUILD TBLPROPERTIES ("prop1"="val1", "prop2"="val2")""")
        // desc extended <index table> works pre-REBUILD (DDLTask creates
        // the index table immediately); pin each table's presence + the
        // index-store schema
        def descOk(it: String): String =
          (HiveQl.sql(s, s"describe $it").collect()
            .map(_.getString(0)).toSet.contains("_bucketname")).toString
        val f0 = facts(s, 0, Seq(
          "idx2" -> descOk(idxTable(t, "src_index_2")),
          "idx3" -> descOk(s"src_idx_src_index_3_$sfx"),
          "idx4" -> descOk(idxTable(t, "src_index_4")),
          "idx5" -> descOk(idxTable(t, "src_index_5")),
          "idx6" -> descOk(idxTable(t, "src_index_6")),
          "idx7" -> descOk(s"src_idx_src_index_7_$sfx"),
          "idx8" -> descOk(idxTable(t, "src_index_8")),
          "idx9" -> descOk(idxTable(t, "src_index_9")),
          "show_count" -> HiveQl.sql(s, s"SHOW INDEXES ON $t")
            .count().toString))
        HiveQl.sql(s, s"create table `$ut`(`_i` int, `_j` int)")
        HiveQl.sql(s, s"create index x on table `$ut`(`_j`) as 'compact' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"alter index x on `$ut` rebuild")
        HiveQl.sql(s, s"create index x2 on table `$ut`(`_i`,`_j`) as 'compact' " +
          "WITH DEFERRED\nREBUILD")
        HiveQl.sql(s, s"alter index x2 on `$ut` rebuild")
        val f1 = facts(s, 1, Seq(
          "underscore_idx_count" -> HiveQl.sql(s, s"SHOW INDEXES ON `$ut`")
            .count().toString))
        for (i <- 2 to 9) HiveQl.sql(s, s"drop index src_index_$i on $t")
        HiveQl.sql(s, s"drop index x on `$ut`")
        HiveQl.sql(s, s"drop index x2 on `$ut`")
        val f2 = facts(s, 2, Seq(
          "after_drop" -> HiveQl.sql(s, s"SHOW INDEXES ON $t").count().toString))
        HiveQl.sql(s, s"drop table `$ut`")
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'idx2', 'true'), (0, 'idx3', 'true'), (0, 'idx4', 'true'),
          (0, 'idx5', 'true'), (0, 'idx6', 'true'), (0, 'idx7', 'true'),
          (0, 'idx8', 'true'), (0, 'idx9', 'true'), (0, 'show_count', '8'),
          (1, 'underscore_idx_count', '2'), (2, 'after_drop', '0'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_stale_partitioned.q: partition-scoped
    //      REBUILD, then an overwrite makes the index stale — the index
    //      table keeps pre-overwrite content and the auto path must NOT
    //      use it (staleness guard)
    QueryDef(
      "q784_qf_index_stale_partitioned",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"temp_q784_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) " +
          "PARTITIONED BY (foo string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"ALTER TABLE $t ADD PARTITION (foo = 'bar')")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (foo = 'bar') " +
          "SELECT * FROM src WHERE key < 50")
        HiveQl.sql(s, s"drop index if exists temp_index on $t")
        HiveQl.sql(s, s"CREATE INDEX temp_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX temp_index ON $t PARTITION (foo = 'bar') REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        // overwrite makes the index stale
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (foo = 'bar') " +
          "SELECT * FROM src")
        val it = idxTable(t, "temp_index")
        val f0 = facts(s, 0, Seq("stale_idx_key86" -> HiveQl.sql(s,
          s"SELECT count(*) FROM $it WHERE key = 86 AND foo='bar'")
          .collect()(0).getLong(0).toString))
        val d1 = dump(HiveQl.sql(s,
          s"SELECT key, val FROM $t WHERE key = 86 AND foo = 'bar'"), 1, "key", "val")
        HiveQl.sql(s, "SET hive.optimize.index.filter=false")
        HiveQl.sql(s, s"DROP INDEX temp_index on $t")
        HiveQl.sql(s, s"DROP TABLE $t")
        ordered(Seq(f0, d1))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, 'stale_idx_key86' AS c1, '0' AS c2
          UNION ALL SELECT 1, key, value FROM src
          WHERE TRY_CAST(key AS DOUBLE) = 86)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auth.q: grants over the index table gate a
    //      REBUILD run under enforcement
    QueryDef(
      "q785_qf_index_auth",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"foobar_q785_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key int, value string) " +
          "PARTITIONED BY (ds string, hr string)")
        HiveQl.sql(s, s"alter table $t add partition (ds='2008-04-08',hr='12')")
        HiveQl.sql(s, s"drop index if exists srcpart_auth_index on $t")
        HiveQl.sql(s, s"CREATE INDEX srcpart_auth_index ON TABLE $t(key) " +
          "as 'BITMAP' WITH DEFERRED REBUILD")
        val it = idxTable(t, "srcpart_auth_index")
        // the grant store persists across runs — start from a clean slate
        for (p <- Seq("select")) HiveQl.sql(s, s"revoke $p on table $t from user hive_test_user")
        for (p <- Seq("select", "update", "create"))
          HiveQl.sql(s, s"revoke $p on table $it from user hive_test_user")
        HiveQl.sql(s, s"grant select on table $t to user hive_test_user")
        HiveQl.sql(s, s"grant select on table $it to user hive_test_user")
        HiveQl.sql(s, s"grant update on table $it to user hive_test_user")
        HiveQl.sql(s, s"grant create on table $it to user hive_test_user")
        HiveQl.sql(s, "set hive.security.authorization.enabled=true")
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val rebuilt =
          try { HiveQl.sql(s,
            s"ALTER INDEX srcpart_auth_index ON $t PARTITION (ds='2008-04-08',hr='12') REBUILD")
            true } catch { case _: Exception => false }
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        val f0 = facts(s, 0, Seq(
          "rebuild_ok" -> rebuilt.toString,
          "grants_on_idx" -> HiveQl.sql(s,
            s"show grant user hive_test_user on table $it").count().toString))
        HiveQl.sql(s, s"DROP INDEX srcpart_auth_index on $t")
        HiveQl.sql(s, s"DROP TABLE $t")
        ordered(Seq(f0))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'grants_on_idx', '3'), (0, 'rebuild_ok', 'true'))
          v(sec, c1, c2) ORDER BY sec, c1, c2"""))
  )
}
