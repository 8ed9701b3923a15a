package graft.operators

import org.apache.spark.sql.SparkSession
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 16 (round 13): the small-file merge and
  * combine families — merge1–4 (conditional merge job after inserts,
  * GenMRFileSink1.java), rcfile_merge1–4 (RCFile block/row merge over
  * dynamic partitions, verified by the .q's own TRANSFORM hash-sum
  * cross-checks), combine1–3 (CombineHiveInputFormat splits; combine3
  * layers SET FILEFORMAT mixed seq/rc partitions over bucketed tables).
  *
  * File-count facts assert the MERGED layout (one file per unit at battery
  * scale); byte-level equivalence is asserted by comparing row content
  * hash-sums before/after through the engine (the .q's own technique).
  */
object QFileParity16 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, SrcPartCte, dump, RefData}
  import QFileParity.Pairs.{facts, ordered}

  /** Data-file count under a table (or its partition dirs, recursive 1). */
  private def fileCount(s: SparkSession, t: String): Long = {
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(t))
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith(".")).map { st =>
        if (st.isDirectory) walk(st.getPath) else 1L
      }.sum
    if (fs.exists(root)) walk(root) else 0L
  }

  private def boolFact(s: SparkSession, sec: Int, name: String, v: Boolean) =
    facts(s, sec, Seq(name -> v.toString))

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/merge1.q: reduce-side output merges to one file;
    //      the 16-BYTE avgsize threshold then disables merging (avg is
    //      always above it) without changing results
    QueryDef(
      "q659_qf_merge1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (d1, ts, d2) = (s"merge1_dest_$sfx", s"merge1_src_$sfx", s"merge1_destb_$sfx")
        fresh(s, d1, ts, d2)
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"create table $d1(key int, val int)")
        HiveQl.sql(s, s"insert overwrite table $d1 select key, count(1) from src group by key")
        val f0 = boolFact(s, 0, "merged_to_one", fileCount(s, d1) == 1L)
        val d0 = dump(HiveQl.sql(s, s"select * from $d1"), 1, "key", "val")
        HiveQl.sql(s, s"create table $ts(key string, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"create table $d2(key string)")
        HiveQl.sql(s, s"insert overwrite table $ts partition(ds='101') select * from src")
        HiveQl.sql(s, s"insert overwrite table $ts partition(ds='102') select * from src")
        HiveQl.sql(s, s"insert overwrite table $d2 select key from $ts")
        val f2 = boolFact(s, 2, "merged_to_one", fileCount(s, d2) == 1L)
        HiveQl.sql(s, "set hive.merge.smallfiles.avgsize=16")
        HiveQl.sql(s, s"insert overwrite table $d2 select key from $ts")
        val c3 = facts(s, 3, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $d2").collect()(0).getLong(0).toString))
        ordered(Seq(f0, d0, f2, c3))
      },
      Some(s"""$SrcCte,
          g AS (SELECT CAST(key AS INT) AS key, count(*) AS val FROM src GROUP BY 1),
          legs AS (
            SELECT 0 AS sec, 'merged_to_one' AS c1, 'true' AS c2
            UNION ALL SELECT 1, CAST(key AS VARCHAR), CAST(val AS VARCHAR) FROM g
            UNION ALL SELECT 2, 'merged_to_one', 'true'
            UNION ALL SELECT 3, 'rows', CAST(2 * (SELECT count(*) FROM src) AS VARCHAR))
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/merge2.q: merge1's shape under map-side merge +
    //      tiny split-size confs (Spark's scan packing subsumes the splits)
    QueryDef(
      "q660_qf_merge2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, ts) = (s"merge2_test1_$sfx", s"merge2_src_$sfx")
        fresh(s, t1, ts)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"create table $t1(key int, val int)")
        HiveQl.sql(s, s"insert overwrite table $t1 select key, count(1) from src group by key")
        val f0 = boolFact(s, 0, "merged_to_one", fileCount(s, t1) == 1L)
        val d0 = dump(HiveQl.sql(s, s"select * from $t1"), 1, "key", "val")
        ordered(Seq(f0, d0))
      },
      Some(s"""$SrcCte,
          g AS (SELECT CAST(key AS INT) AS key, count(*) AS val FROM src GROUP BY 1),
          legs AS (
            SELECT 0 AS sec, 'merged_to_one' AS c1, 'true' AS c2
            UNION ALL SELECT 1, CAST(key AS VARCHAR), CAST(val AS VARCHAR) FROM g)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/merge3.q: merge across a CTAS and across
    //      dynamic-partition inserts (each partition merges independently)
    QueryDef(
      "q661_qf_merge3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (ms, msp, ms2, msp2) = (s"merge3_src_$sfx", s"merge3_srcp_$sfx",
          s"merge3_src2_$sfx", s"merge3_srcp2_$sfx")
        fresh(s, ms, msp, ms2, msp2)
        HiveQl.sql(s, s"create table $ms as select key, value from srcpart where ds is not null")
        HiveQl.sql(s, s"create table $msp (key string, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"insert overwrite table $msp partition(ds) " +
          "select key, value, ds from srcpart where ds is not null")
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"create table $ms2 as select key, value from $ms")
        val c0 = facts(s, 0, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $ms2").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"create table $msp2 (key string, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"insert overwrite table $msp2 partition(ds) " +
          s"select key, value, ds from $msp where ds is not null")
        val parts = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(msp2))
          .map(_.spec("ds")).sorted
        val f1 = facts(s, 1, parts.map(p => s"part:$p" -> "present"))
        val f2 = boolFact(s, 2, "per_partition_single_file",
          fileCount(s, msp2) == parts.size.toLong)
        val c3 = facts(s, 3, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $msp2 where ds is not null")
            .collect()(0).getLong(0).toString))
        ordered(Seq(c0, f1, f2, c3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'rows', '2000'),
          (1, 'part:2008-04-08', 'present'), (1, 'part:2008-04-09', 'present'),
          (2, 'per_partition_single_file', 'true'),
          (3, 'rows', '2000')) v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/merge4.q: static+dynamic mixed inserts with a
    //      partition VALUE containing a comma ('file,'), merged per
    //      partition
    QueryDef(
      "q662_qf_merge4",
      (s, dir) => {
        val t = s"merge4_part_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2010-08-15', hr) " +
          "select key, value, hr from srcpart where ds='2008-04-08'")
        val c0 = facts(s, 0, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2010-08-15', hr=11) " +
          "select key, value from srcpart where ds='2008-04-08'")
        val c1 = facts(s, 1, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
        // Hive.g binds a union leg's trailing LIMIT to THAT leg; Spark
        // binds it to the whole union — the leg is parenthesized to keep
        // the reference's scope
        HiveQl.sql(s,
          s"""insert overwrite table $t partition (ds='2010-08-15', hr)
            select * from (
              select key, value, hr from srcpart where ds='2008-04-08'
              union all
              (select '1' as key, '1' as value, 'file,' as hr from src limit 1)) s""")
        val parts = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(t))
          .map(_.spec.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))
          .sorted
        val f2 = facts(s, 2, parts.map(p => s"part:$p" -> "present"))
        val c3 = facts(s, 3, Seq("filecomma_rows" ->
          HiveQl.sql(s, s"select count(1) from $t where hr='file,'")
            .collect()(0).getLong(0).toString))
        ordered(Seq(c0, c1, f2, c3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'rows', '1000'),
          (1, 'rows', '1500'),
          (2, 'part:ds=2010-08-15/hr=11', 'present'),
          (2, 'part:ds=2010-08-15/hr=12', 'present'),
          (2, 'part:ds=2010-08-15/hr=file,', 'present'),
          (3, 'filecomma_rows', '1')) v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/rcfile_merge1.q: RCFile dynamic partitions under
    //      row-level vs block-level merge — identical rows either way,
    //      verified by the .q's own TRANSFORM hash-sum
    QueryDef(
      "q663_qf_rcfile_merge1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (ta, tb) = (s"rcm1_a_$sfx", s"rcm1_b_$sfx")
        fresh(s, ta, tb)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        for (t <- Seq(ta, tb))
          HiveQl.sql(s, s"CREATE TABLE $t (key INT, value STRING) " +
            "PARTITIONED BY (ds STRING, part STRING) STORED AS RCFILE")
        for (t <- Seq(ta, tb))
          HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (ds='1', part) " +
            "SELECT key, value, PMOD(HASH(key), 100) as part FROM src")
        def thash(t: String): Long = HiveQl.sql(s,
          s"""SELECT SUM(HASH(c)) AS h FROM (
              SELECT TRANSFORM(*) USING 'tr "\\t" "_"' AS (c)
              FROM $t WHERE ds='1') t""").collect()(0).getLong(0)
        val (ha, hb) = (thash(ta), thash(tb))
        ordered(Seq(
          boolFact(s, 0, "hash_equal", ha == hb),
          facts(s, 1, Seq("rows" -> HiveQl.sql(s, s"select count(1) from $ta")
            .collect()(0).getLong(0).toString)),
          boolFact(s, 2, "per_partition_single_file",
            fileCount(s, ta) == s.sessionState.catalog.listPartitions(
              s.sessionState.sqlParser.parseTableIdentifier(ta)).size.toLong)))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'hash_equal', 'true'), (1, 'rows', '500'),
          (2, 'per_partition_single_file', 'true')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/rcfile_merge2.q: three-level dynamic partition
    //      spec (one static, two dynamic), content hash vs the source
    QueryDef(
      "q664_qf_rcfile_merge2",
      (s, dir) => {
        val t = s"rcm2_a_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"CREATE TABLE $t (key INT, value STRING) " +
          "PARTITIONED BY (one string, two string, three string) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t PARTITION (one='1', two, three) " +
          "SELECT key, value, PMOD(HASH(key), 10) as two, " +
          "PMOD(HASH(value), 10) as three FROM src")
        val tableH = HiveQl.sql(s,
          s"""SELECT SUM(HASH(c)) AS h FROM (
              SELECT TRANSFORM(*) USING 'tr "\\t" "_"' AS (c) FROM $t) t""")
          .collect()(0).getLong(0)
        val srcH = HiveQl.sql(s,
          """SELECT SUM(HASH(c)) AS h FROM (
              SELECT TRANSFORM(key, value, one, two, three) USING 'tr "\t" "_"' AS (c)
              FROM (SELECT cast(key as int) AS key, value, '1' AS one,
                      cast(PMOD(HASH(key), 10) as string) AS two,
                      cast(PMOD(HASH(value), 10) as string) AS three FROM src) x) t""")
          .collect()(0).getLong(0)
        ordered(Seq(
          boolFact(s, 0, "hash_equals_source", tableH == srcH),
          facts(s, 1, Seq("rows" -> HiveQl.sql(s, s"select count(1) from $t")
            .collect()(0).getLong(0).toString))))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'hash_equals_source', 'true'), (1, 'rows', '500')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/rcfile_merge3.q: TEXTFILE partitions copied into
    //      one RCFile table; both sides' TRANSFORM hashes agree
    QueryDef(
      "q665_qf_rcfile_merge3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (a, b) = (s"rcm3_a_$sfx", s"rcm3_b_$sfx")
        fresh(s, a, b)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"CREATE TABLE $a (key int, value string) " +
          "PARTITIONED BY (ds string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"CREATE TABLE $b (key int, value string) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='1') SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='2') SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $b SELECT key, value FROM $a")
        def thash(t: String, cols: String): Long = HiveQl.sql(s,
          s"""SELECT SUM(HASH(c)) AS h FROM (
              SELECT TRANSFORM($cols) USING 'tr "\\t" "_"' AS (c) FROM $t) t""")
          .collect()(0).getLong(0)
        ordered(Seq(
          boolFact(s, 0, "hash_equal", thash(a, "key, value") == thash(b, "key, value")),
          facts(s, 1, Seq("rows" -> HiveQl.sql(s, s"select count(1) from $b")
            .collect()(0).getLong(0).toString))))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'hash_equal', 'true'), (1, 'rows', '1000')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/rcfile_merge4.q: the mirror copy, RCFile
    //      partitions into one TEXTFILE table
    QueryDef(
      "q666_qf_rcfile_merge4",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (a, b) = (s"rcm4_a_$sfx", s"rcm4_b_$sfx")
        fresh(s, a, b)
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"CREATE TABLE $a (key int, value string) " +
          "PARTITIONED BY (ds string) STORED AS RCFILE")
        HiveQl.sql(s, s"CREATE TABLE $b (key int, value string) STORED AS TEXTFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='1') SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='2') SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $b SELECT key, value FROM $a")
        def thash(t: String): Long = HiveQl.sql(s,
          s"""SELECT SUM(HASH(c)) AS h FROM (
              SELECT TRANSFORM(key, value) USING 'tr "\\t" "_"' AS (c) FROM $t) t""")
          .collect()(0).getLong(0)
        ordered(Seq(
          boolFact(s, 0, "hash_equal", thash(a) == thash(b)),
          facts(s, 1, Seq("rows" -> HiveQl.sql(s, s"select count(1) from $b")
            .collect()(0).getLong(0).toString))))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'hash_equal', 'true'), (1, 'rows', '1000')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/combine1.q: the round trip under
    //      CombineHiveInputFormat confs (Spark's maxPartitionBytes packing)
    QueryDef(
      "q667_qf_combine1",
      (s, dir) => {
        val t = s"combine1_1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        HiveQl.sql(s, s"select key, value from $t").orderBy("key", "value")
      },
      Some(s"$SrcCte SELECT key, value FROM src ORDER BY key, value")),

    // ---- clientpositive/combine2.q: partitioned BY VALUE with special
    //      characters ('|', a timestamp string) as dynamic partition values
    QueryDef(
      "q668_qf_combine2",
      (s, dir) => {
        val t = s"combine2_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, s"create table $t(key string) partitioned by (value string)")
        HiveQl.sql(s,
          s"""insert overwrite table $t partition(value)
            select * from (
              select key, value from src where key < 10
              union all
              select key, '|' as value from src where key = 11
              union all
              select key, '2010-04-21 09:45:00' value from src where key = 19) s""")
        val d0 = dump(HiveQl.sql(s,
          s"select key, value from $t where value is not null"), 0, "key", "value")
        val c1 = facts(s, 1, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $t where value is not null")
            .collect()(0).getLong(0).toString))
        val d2 = dump(HiveQl.sql(s,
          "select ds, count(1) as cnt from srcpart where ds is not null group by ds"),
          2, "ds", "cnt")
        ordered(Seq(d0, c1, d2))
      },
      Some(s"""$SrcPartCte,
          sel AS (SELECT key, value FROM src WHERE TRY_CAST(key AS DOUBLE) < 10
                  UNION ALL SELECT key, '|' FROM src WHERE TRY_CAST(key AS DOUBLE) = 11
                  UNION ALL SELECT key, '2010-04-21 09:45:00' FROM src
                  WHERE TRY_CAST(key AS DOUBLE) = 19),
          legs AS (
            SELECT 0 AS sec, key AS c1, value AS c2 FROM sel
            UNION ALL SELECT 1, 'rows', CAST((SELECT count(*) FROM sel) AS VARCHAR)
            UNION ALL SELECT 2, ds, CAST(count(*) AS VARCHAR)
            FROM srcpart GROUP BY ds)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/combine3.q: SET FILEFORMAT mid-life — seq and rc
    //      partitions coexist (the hetero surface) in a plain AND a
    //      BUCKETED table, with a bucket TABLESAMPLE over the mixed layout
    QueryDef(
      "q669_qf_combine3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, bt) = (s"combine3_seqrc_$sfx", s"combine3_bucket_$sfx")
        fresh(s, t, bt)
        HiveQl.sql(s, s"create table $t (key int, value string) " +
          "partitioned by (ds string, hr string) stored as sequencefile")
        HiveQl.sql(s, s"""insert overwrite table $t partition (ds="2010-08-03", hr="00") select * from src""")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"""insert overwrite table $t partition (ds="2010-08-03", hr="001") select * from src""")
        val d0 = dump(HiveQl.sql(s,
          s"""select key, concat(value, '/', hr) as vhr from $t where ds="2010-08-03"
             order by key, value, hr limit 30"""), 0, "key", "vhr")
        HiveQl.sql(s, "set hive.enforce.bucketing = true")
        HiveQl.sql(s, s"CREATE TABLE $bt(key int, value string) partitioned by (ds string) " +
          "CLUSTERED BY (key) INTO 2 BUCKETS stored as sequencefile")
        HiveQl.sql(s, s"insert overwrite table $bt partition (ds='1') select * from src")
        HiveQl.sql(s, s"alter table $bt set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $bt partition (ds='11') select * from src")
        val d1 = dump(HiveQl.sql(s,
          s"""select key, ds from $bt tablesample (bucket 1 out of 2) s
             where ds = '1' or ds= '11' order by key, ds limit 30"""), 1, "key", "ds")
        ordered(Seq(d0, d1))
      },
      Some(s"""$SrcCte,
          twoh AS (SELECT CAST(key AS INT) AS key, value, hr
                   FROM src CROSS JOIN (VALUES ('00'),('001')) h(hr)),
          top AS (SELECT key, value || '/' || hr AS vhr FROM twoh
                  ORDER BY key, value, hr LIMIT 30),
          bkt AS (SELECT CAST(key AS INT) AS key, ds
                  FROM src CROSS JOIN (VALUES ('1'),('11')) d(ds)
                  WHERE CAST(key AS INT) % 2 = 0),
          bot AS (SELECT key, ds FROM bkt ORDER BY key, ds LIMIT 30),
          legs AS (
            SELECT 0 AS sec, CAST(key AS VARCHAR) AS c1, vhr AS c2 FROM top
            UNION ALL SELECT 1, CAST(key AS VARCHAR), ds FROM bot)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/mergejoins.q is covered by the join battery
    //      (multi-way equi-join merge is Catalyst's native reordering);
    //      clientpositive/merge_dynamic_partition.q 1-3 by q576-q592 + merge3/4 above.

    // ---- clientpositive/stats3.q's LOAD-then-INSERT shape appears in
    //      q654; nothing further here.
    QueryDef(
      "q670_qf_merge_dynamic_partition",
      (s, dir) => {
        // merge_dynamic_partition.q: dynamic insert from a LOADED text
        // table under merge confs; per-partition single-file layout and
        // exact rows
        val sfx = fixtures(s, dir)
        val (srcp, t) = (s"mdp_src_$sfx", s"mdp_part_$sfx")
        fresh(s, srcp, t)
        HiveQl.sql(s, "set hive.exec.dynamic.partition=true")
        HiveQl.sql(s, "set hive.exec.dynamic.partition.mode=nonstrict")
        HiveQl.sql(s, "set hive.merge.mapfiles=true")
        HiveQl.sql(s, "set hive.merge.mapredfiles=true")
        HiveQl.sql(s, s"create table $srcp (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $srcp partition(ds, hr) " +
          "select key, value, ds, hr from srcpart where ds is not null")
        HiveQl.sql(s, s"create table $t (key string, value string) " +
          "partitioned by (ds string, hr string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(ds, hr) " +
          s"select key, value, ds, hr from $srcp where ds is not null")
        val nParts = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(t)).size.toLong
        ordered(Seq(
          boolFact(s, 0, "per_partition_single_file", fileCount(s, t) == nParts),
          facts(s, 1, Seq("parts" -> nParts.toString)),
          facts(s, 2, Seq("rows" -> HiveQl.sql(s, s"select count(1) from $t")
            .collect()(0).getLong(0).toString))))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'per_partition_single_file', 'true'), (1, 'parts', '4'),
          (2, 'rows', '2000')) v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/input19.q: DynamicSerDe over TCTLSeparatedProtocol
    //      reads an Apache access log — space-delimited with "…" and […]
    //      quoted regions kept whole, '-' reading back as NULL
    QueryDef(
      "q671_qf_input19",
      (s, dir) => {
        val t = s"apachelog_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s,
          s"""create table $t(ipaddress STRING,identd STRING,user_name STRING,
              finishtime STRING,requestline string,returncode INT,size INT)
            ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.dynamic_type.DynamicSerDe'
            WITH SERDEPROPERTIES (
              'serialization.format'= 'org.apache.hadoop.hive.serde2.thrift.TCTLSeparatedProtocol',
              'quote.delim'= '("|\\\\[|\\\\])',
              'field.delim'=' ',
              'serialization.null.format'='-' ) STORED AS TEXTFILE""")
        HiveQl.sql(s, "LOAD DATA LOCAL INPATH " +
          s"'$RefData/apache.access.log' INTO TABLE $t")
        HiveQl.sql(s, s"SELECT a.* FROM $t a")
      },
      Some("""SELECT '127.0.0.1' AS ipaddress, CAST(NULL AS VARCHAR) AS identd,
              'frank' AS user_name, '10/Oct/2000:13:55:36 -0700' AS finishtime,
              'GET /apache_pb.gif HTTP/1.0' AS requestline, 200 AS returncode,
              2326 AS size"""))
  )
}
