package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 20 (round 13): the index .q families —
  * index_compact/index_compact_1–3 (clientpositive/index_compact_3.q), index_bitmap/index_bitmap1–3 (clientpositive/index_bitmap1.q),
  * index_auto, index_auto_partitioned, index_auto_multiple,
  * index_auto_self_join, index_auto_unused, index_auto_empty,
  * index_auto_update, index_stale (clientpositive/index_stale.q) — COMPACT and BITMAP index tables under
  * Hive's default__<table>_<index>__ naming (CompactIndexHandler.java,
  * BitmapIndexHandler.java), manual index-scan extraction (INSERT
  * OVERWRITE DIRECTORY of `_bucketname`/`_offsets`, EWAH `_bitmaps`
  * predicates), and the filter-rewrite path where the engine's
  * IndexFilterRewrite stands in for hive.optimize.index.filter.
  *
  * `_bucketname`/`_offsets` values are machine paths/offsets — facts pin
  * their SHAPE (distinct indexed keys, extraction produced files); every
  * base-table SELECT is value-oracled. Stale-index rows stay correct by
  * the (path, length) staleness guard (Indexes.scala:204-216), which the
  * index_stale/index_auto_update defs pin against post-insert data.
  */
object QFileParity20 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, dump, srcTable, srcpartTable, idxTable, extractDir,
    dirNonEmpty}
  import QFileParity.Pairs.{facts, ordered}

  /** COMPACT shape shared by index_compact_1/_3 and index_auto bases. */
  private def compactSingle(qn: String, qf: String, fmt: String) = QueryDef(
    s"${qn}_qf_$qf",
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val t = s"idxc_${qn}_$sfx"
      fresh(s, t)
      HiveQl.sql(s, s"CREATE TABLE $t (key string, value string) STORED AS $fmt")
      HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src")
      HiveQl.sql(s, s"drop index if exists src_index on $t")
      HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'COMPACT' " +
        "WITH DEFERRED REBUILD")
      HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
      val it = idxTable(t, "src_index")
      val f0 = facts(s, 0, Seq("idx_distinct_keys" ->
        HiveQl.sql(s, s"SELECT count(DISTINCT key) FROM $it")
          .collect()(0).getLong(0).toString))
      val ed = extractDir(s, qn, sfx)
      HiveQl.sql(s, s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`, """ +
        s"to_json(`_offsets`) FROM $it WHERE key=100")
      val f1 = facts(s, 1, Seq("extracted" -> dirNonEmpty(s, ed).toString))
      val d2 = dump(HiveQl.sql(s,
        s"SELECT key, value FROM $t WHERE key=100 ORDER BY key"), 2, "key", "value")
      HiveQl.sql(s, s"DROP INDEX src_index on $t")
      ordered(Seq(f0, f1, d2))
    },
    Some(s"""$SrcCte, legs AS (
        SELECT 0 AS sec, 'idx_distinct_keys' AS c1,
          CAST((SELECT count(DISTINCT key) FROM src) AS VARCHAR) AS c2
        UNION ALL SELECT 1, 'extracted', 'true'
        UNION ALL SELECT 2, key, value FROM src WHERE key = '100')
        SELECT * FROM legs ORDER BY sec, c1, c2"""))

  /** BITMAP shape shared by index_bitmap1 (and the srcpart variant). */
  private def bitmapSingle(qn: String, qf: String) = QueryDef(
    s"${qn}_qf_$qf",
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val t = srcTable(s, qn, sfx)
      HiveQl.sql(s, s"drop index if exists src_index on $t")
      HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'BITMAP' " +
        "WITH DEFERRED REBUILD")
      HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
      val it = idxTable(t, "src_index")
      val f0 = facts(s, 0, Seq("idx_distinct_keys" ->
        HiveQl.sql(s, s"SELECT count(DISTINCT key) FROM $it")
          .collect()(0).getLong(0).toString))
      val ed = extractDir(s, qn, sfx)
      HiveQl.sql(s,
        s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`,
          to_json(COLLECT_SET(`_offset`)) FROM $it WHERE NOT
          EWAH_BITMAP_EMPTY(`_bitmaps`) AND key=100 GROUP BY `_bucketname`""")
      val f1 = facts(s, 1, Seq("extracted" -> dirNonEmpty(s, ed).toString))
      val d2 = dump(HiveQl.sql(s,
        s"SELECT key, value FROM $t WHERE key=100 ORDER BY key"), 2, "key", "value")
      HiveQl.sql(s, s"DROP INDEX src_index ON $t")
      ordered(Seq(f0, f1, d2))
    },
    Some(s"""$SrcCte, legs AS (
        SELECT 0 AS sec, 'idx_distinct_keys' AS c1,
          CAST((SELECT count(DISTINCT key) FROM src) AS VARCHAR) AS c2
        UNION ALL SELECT 1, 'extracted', 'true'
        UNION ALL SELECT 2, key, value FROM src WHERE key = '100')
        SELECT * FROM legs ORDER BY sec, c1, c2"""))

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/index_compact.q: COMPACT index over the
    //      partitioned srcpart shape, partition-filtered index reads
    QueryDef(
      "q726_qf_index_compact",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q726", sfx)
        HiveQl.sql(s, s"drop index if exists srcpart_index_proj on $t")
        HiveQl.sql(s, s"CREATE INDEX srcpart_index_proj ON TABLE $t(key) " +
          "as 'COMPACT' WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX srcpart_index_proj ON $t REBUILD")
        val it = idxTable(t, "srcpart_index_proj")
        val f0 = facts(s, 0, Seq("idx_part_keys" ->
          HiveQl.sql(s, s"SELECT count(DISTINCT key) FROM $it " +
            "WHERE ds = '2008-04-08' and hr = 11")
            .collect()(0).getLong(0).toString))
        val ed = extractDir(s, "q726", sfx)
        HiveQl.sql(s, s"""INSERT OVERWRITE DIRECTORY "$ed" SELECT `_bucketname`, """ +
          s"to_json(`_offsets`) FROM $it x WHERE x.key=100 AND x.ds = '2008-04-08'")
        val f1 = facts(s, 1, Seq("extracted" -> dirNonEmpty(s, ed).toString))
        val d2 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=100 AND ds = '2008-04-08' ORDER BY key"), 2, "key", "value")
        val d3 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=100 AND ds = '2008-04-08' and hr = 11 ORDER BY key"),
          3, "key", "value")
        HiveQl.sql(s, s"DROP INDEX srcpart_index_proj on $t")
        ordered(Seq(f0, f1, d2, d3))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, 'idx_part_keys' AS c1,
            CAST((SELECT count(DISTINCT key) FROM src) AS VARCHAR) AS c2
          UNION ALL SELECT 1, 'extracted', 'true'
          UNION ALL SELECT 2, key, value FROM src WHERE key = '100'
          UNION ALL SELECT 2, key, value FROM src WHERE key = '100'
          UNION ALL SELECT 3, key, value FROM src WHERE key = '100')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_compact_1.q (TEXTFILE) /
    //      index_compact_3.q (RCFILE, table src_index_test_rc)
    compactSingle("q727", "index_compact_1", "TEXTFILE"),
    // clientpositive/index_compact_3.q
    compactSingle("q728", "index_compact_3", "RCFILE"),

    // ---- clientpositive/index_compact_2.q: the srcpart_rc RCFile
    //      partition battery
    QueryDef(
      "q729_qf_index_compact_2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q729", sfx, fmt = "RCFILE")
        HiveQl.sql(s, s"drop index if exists srcpart_rc_index on $t")
        HiveQl.sql(s, s"CREATE INDEX srcpart_rc_index ON TABLE $t(key) " +
          "as 'COMPACT' WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX srcpart_rc_index ON $t REBUILD")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=100 AND ds = '2008-04-08' ORDER BY key"), 0, "key", "value")
        val d1 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=100 AND ds = '2008-04-08' and hr = 11 ORDER BY key"),
          1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX srcpart_rc_index on $t")
        ordered(Seq(d0, d1))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '100'
          UNION ALL SELECT 0, key, value FROM src WHERE key = '100'
          UNION ALL SELECT 1, key, value FROM src WHERE key = '100')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_bitmap.q (srcpart shape) / index_bitmap1.q
    bitmapSingle("q730", "index_bitmap1"),
    QueryDef(
      "q731_qf_index_bitmap",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q731", sfx)
        HiveQl.sql(s, s"drop index if exists srcpart_index_proj on $t")
        HiveQl.sql(s, s"CREATE INDEX srcpart_index_proj ON TABLE $t(key) " +
          "as 'BITMAP' WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX srcpart_index_proj ON $t REBUILD")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=100 AND ds = '2008-04-08' and hr = 11 ORDER BY key"),
          0, "key", "value")
        HiveQl.sql(s, s"DROP INDEX srcpart_index_proj on $t")
        ordered(Seq(d0))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '100')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_bitmap2.q / clientpositive/index_bitmap3.q: TWO bitmap
    //      indexes combined by UNION (OR) and JOIN (AND) over
    //      (_bucketname, _offset), EWAH-emptiness filtered
    QueryDef(
      "q732_qf_index_bitmap2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q732", sfx)
        HiveQl.sql(s, s"drop index if exists src1_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src1_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"drop index if exists src2_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src2_index ON TABLE $t(value) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src1_index ON $t REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src2_index ON $t REBUILD")
        val (i1, i2) = (idxTable(t, "src1_index"), idxTable(t, "src2_index"))
        // OR of the two indexes' postings — count of merged buckets
        val or = HiveQl.sql(s,
          s"""SELECT count(*) FROM (
              SELECT t.bucketname, COLLECT_SET(t.offset) AS offsets FROM
                (SELECT `_bucketname` AS bucketname, `_offset` AS offset
                   FROM $i1 WHERE key = 0 AND NOT EWAH_BITMAP_EMPTY(`_bitmaps`)
                 UNION ALL
                 SELECT `_bucketname` AS bucketname, `_offset` AS offset
                   FROM $i2 WHERE value = "val_0" AND NOT EWAH_BITMAP_EMPTY(`_bitmaps`)) t
              GROUP BY t.bucketname) x""").collect()(0).getLong(0)
        val f0 = facts(s, 0, Seq("or_buckets_nonempty" -> (or > 0).toString))
        val d1 = dump(HiveQl.sql(s,
          s"""SELECT key, value FROM $t WHERE key=0 OR value = "val_0" ORDER BY key"""),
          1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src1_index ON $t")
        HiveQl.sql(s, s"DROP INDEX src2_index ON $t")
        ordered(Seq(f0, d1))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, 'or_buckets_nonempty' AS c1, 'true' AS c2
          UNION ALL SELECT 1, key, value FROM src
          WHERE TRY_CAST(key AS DOUBLE) = 0 OR value = 'val_0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q733_qf_index_bitmap3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q733", sfx)
        HiveQl.sql(s, s"drop index if exists src1_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src1_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"drop index if exists src2_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src2_index ON TABLE $t(value) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src1_index ON $t REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src2_index ON $t REBUILD")
        val (i1, i2) = (idxTable(t, "src1_index"), idxTable(t, "src2_index"))
        // AND of the two indexes: join on (_bucketname, _offset)
        val and = HiveQl.sql(s,
          s"""SELECT count(*) FROM (
              SELECT a.bucketname, COLLECT_SET(a.offset) as offsets
              FROM (SELECT `_bucketname` AS bucketname, `_offset` AS offset,
                      `_bitmaps` AS bitmaps FROM $i1 WHERE key = 0) a
              JOIN (SELECT `_bucketname` AS bucketname, `_offset` AS offset,
                      `_bitmaps` AS bitmaps FROM $i2 WHERE value = "val_0") b
              ON a.bucketname = b.bucketname AND a.offset = b.offset
              GROUP BY a.bucketname) x""").collect()(0).getLong(0)
        val f0 = facts(s, 0, Seq("and_buckets_nonempty" -> (and > 0).toString))
        val d1 = dump(HiveQl.sql(s,
          s"""SELECT key, value FROM $t WHERE key=0 AND value = "val_0" ORDER BY key"""),
          1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src1_index ON $t")
        HiveQl.sql(s, s"DROP INDEX src2_index ON $t")
        ordered(Seq(f0, d1))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, 'and_buckets_nonempty' AS c1, 'true' AS c2
          UNION ALL SELECT 1, key, value FROM src
          WHERE TRY_CAST(key AS DOUBLE) = 0 AND value = 'val_0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto.q: the filter-rewrite path — same
    //      rows with the optimizer off and on
    QueryDef(
      "q734_qf_index_auto",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q734", sfx)
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key > 80 AND key < 100 ORDER BY key"), 0, "key", "value")
        HiveQl.sql(s, s"drop index if exists src_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        val d1 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key > 80 AND key < 100 ORDER BY key"), 1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_index on $t")
        ordered(Seq(d0, d1))
      },
      Some(s"""$SrcCte,
          f AS (SELECT key, value FROM src
                WHERE TRY_CAST(key AS DOUBLE) > 80 AND TRY_CAST(key AS DOUBLE) < 100),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM f
            UNION ALL SELECT 1, key, value FROM f)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_partitioned.q
    QueryDef(
      "q735_qf_index_auto_partitioned",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcpartTable(s, "q735", sfx)
        HiveQl.sql(s, s"drop index if exists src_part_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_part_index ON TABLE $t(key) " +
          "as 'COMPACT' WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_part_index ON $t REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key=86 AND ds='2008-04-09' ORDER BY key"), 0, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_part_index ON $t")
        ordered(Seq(d0))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '86'
          UNION ALL SELECT 0, key, value FROM src WHERE key = '86')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_multiple.q: two candidate indexes,
    //      the key one wins
    QueryDef(
      "q736_qf_index_auto_multiple",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q736", sfx)
        HiveQl.sql(s, s"drop index if exists src_key_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_key_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"drop index if exists src_val_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_val_index ON TABLE $t(value) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_key_index ON $t REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_val_index ON $t REBUILD")
        val d0 = dump(HiveQl.sql(s,
          s"SELECT key, value FROM $t WHERE key=86 ORDER BY key"), 0, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_key_index ON $t")
        HiveQl.sql(s, s"DROP INDEX src_val_index ON $t")
        ordered(Seq(d0))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '86')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_self_join.q
    QueryDef(
      "q737_qf_index_auto_self_join",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q737", sfx)
        def q = HiveQl.sql(s,
          s"""SELECT a.key as ak, b.key as bk FROM $t a JOIN $t b ON (a.value = b.value)
             WHERE a.key > 80 AND a.key < 100 AND b.key > 70 AND b.key < 90
             ORDER BY ak, bk""")
        val d0 = dump(q, 0, "ak", "bk")
        HiveQl.sql(s, s"drop index if exists src_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'BITMAP' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
        val d1 = dump(q, 1, "ak", "bk")
        HiveQl.sql(s, s"DROP INDEX src_index on $t")
        ordered(Seq(d0, d1))
      },
      Some(s"""$SrcCte,
          j AS (SELECT a.key AS ak, b.key AS bk FROM src a JOIN src b
                ON a.value = b.value
                WHERE TRY_CAST(a.key AS DOUBLE) > 80 AND TRY_CAST(a.key AS DOUBLE) < 100
                  AND TRY_CAST(b.key AS DOUBLE) > 70 AND TRY_CAST(b.key AS DOUBLE) < 90),
          legs AS (
            SELECT 0 AS sec, ak AS c1, bk AS c2 FROM j
            UNION ALL SELECT 1, ak, bk FROM j)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_unused.q: ranges the rewrite must NOT
    //      break (too wide, OR'd, value-indexed, other-partition)
    QueryDef(
      "q738_qf_index_auto_unused",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = srcTable(s, "q738", sfx)
        HiveQl.sql(s, s"drop index if exists src_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_index ON $t REBUILD")
        val d0 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key > 80 AND key < 100 ORDER BY key"), 0, "key", "value")
        val d1 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key < 10 OR key > 480 ORDER BY key"), 1, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_index on $t")
        HiveQl.sql(s, s"drop index if exists src_val_index on $t")
        HiveQl.sql(s, s"CREATE INDEX src_val_index ON TABLE $t(value) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_val_index ON $t REBUILD")
        val d2 = dump(HiveQl.sql(s, s"SELECT key, value FROM $t " +
          "WHERE key > 80 AND key < 100 ORDER BY key"), 2, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_val_index on $t")
        val tp = srcpartTable(s, "q738", sfx)
        HiveQl.sql(s, s"drop index if exists src_part_index on $tp")
        HiveQl.sql(s, s"CREATE INDEX src_part_index ON TABLE $tp(key) " +
          "as 'COMPACT' WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX src_part_index ON $tp " +
          "PARTITION (ds='2008-04-08', hr=11) REBUILD")
        val d3 = dump(HiveQl.sql(s, s"SELECT key, value FROM $tp " +
          "WHERE ds='2008-04-09' AND hr=12 AND key < 10 ORDER BY key"),
          3, "key", "value")
        HiveQl.sql(s, s"DROP INDEX src_part_index on $tp")
        ordered(Seq(d0, d1, d2, d3))
      },
      Some(s"""$SrcCte,
          k AS (SELECT key, value, TRY_CAST(key AS DOUBLE) AS kd FROM src),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM k WHERE kd > 80 AND kd < 100
            UNION ALL SELECT 1, key, value FROM k WHERE kd < 10 OR kd > 480
            UNION ALL SELECT 2, key, value FROM k WHERE kd > 80 AND kd < 100
            UNION ALL SELECT 3, key, value FROM k WHERE kd < 10)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_empty.q: rebuilt over an EMPTY table
    QueryDef(
      "q739_qf_index_auto_empty",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"idxempty_q739_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"drop index if exists temp_index on $t")
        HiveQl.sql(s, s"CREATE INDEX temp_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX temp_index ON $t REBUILD")
        val it = idxTable(t, "temp_index")
        val c0 = facts(s, 0, Seq(
          "idx_rows" -> HiveQl.sql(s, s"SELECT count(*) FROM $it WHERE key = 86")
            .collect()(0).getLong(0).toString,
          "tbl_rows" -> HiveQl.sql(s, s"SELECT count(*) FROM $t WHERE key = 86")
            .collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"DROP table $t")
        ordered(Seq(c0))
      },
      Some("""SELECT * FROM (VALUES (0, 'idx_rows', '0'), (0, 'tbl_rows', '0'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/index_auto_update.q / index_stale.q: data changes
    //      AFTER the rebuild — the staleness guard must return the NEW rows
    QueryDef(
      "q740_qf_index_auto_update",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"idxupd_q740_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src WHERE key < 50")
        HiveQl.sql(s, s"drop index if exists temp_index on $t")
        HiveQl.sql(s, s"CREATE INDEX temp_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX temp_index ON $t REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.autoupdate=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src")
        val d0 = dump(HiveQl.sql(s, s"SELECT * FROM $t WHERE key = 86"),
          0, "key", "val")
        HiveQl.sql(s, s"DROP table $t")
        ordered(Seq(d0))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '86')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    QueryDef(
      "q741_qf_index_stale",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"idxstale_q741_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key STRING, val STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src WHERE key < 50")
        HiveQl.sql(s, s"drop index if exists temp_index on $t")
        HiveQl.sql(s, s"CREATE INDEX temp_index ON TABLE $t(key) as 'COMPACT' " +
          "WITH DEFERRED REBUILD")
        HiveQl.sql(s, s"ALTER INDEX temp_index ON $t REBUILD")
        HiveQl.sql(s, "SET hive.optimize.index.filter=true")
        HiveQl.sql(s, "SET hive.optimize.index.filter.compact.minsize=0")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t SELECT * FROM src")
        val d0 = dump(HiveQl.sql(s, s"SELECT * FROM $t WHERE key = 86"),
          0, "key", "val")
        HiveQl.sql(s, s"DROP table $t")
        ordered(Seq(d0))
      },
      Some(s"""$SrcCte, legs AS (
          SELECT 0 AS sec, key AS c1, value AS c2 FROM src WHERE key = '86')
          SELECT * FROM legs ORDER BY sec, c1, c2"""))
  )
}
