package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 30 (round 15): file-format singles —
  * INPUTFORMAT/OUTPUTFORMAT create pairs, RCFile CTAS + lazy decompress +
  * null round-trips, compressed inserts, external partition locations,
  * result-format confs, and lateral-view pushdown.
  */
object QFileParity30 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, Src1Cte, leg, legSql, jh, cnt}
  import QFileParity.Lines.{facts, ordered}

  /** The .q's INPUTFORMAT/OUTPUTFORMAT create + filtered insert + dump. */
  private def fileformatBody(qn: String, in: String, out: String) = QueryDef(
    qn,
    (s, dir) => {
      val sfx = fixtures(s, dir)
      val d = s"dest1_${qn.take(4)}_$sfx"
      fresh(s, d)
      HiveQl.sql(s, s"""CREATE TABLE $d(key INT, value STRING) STORED AS
        INPUTFORMAT '$in'
        OUTPUTFORMAT '$out'""")
      HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $d " +
        "SELECT src.key, src.value WHERE src.key < 10")
      val r = leg(0, HiveQl.sql(s, s"SELECT $d.* FROM $d")).localCheckpoint(true)
      HiveQl.sql(s, s"drop table $d")
      r.orderBy("sec", "c1")
    },
    Some(s"""$SrcCte, legs AS (${legSql(0,
      Seq("CAST(key AS INT)", "value"),
      "FROM src WHERE CAST(key AS DOUBLE) < 10")})
      SELECT * FROM legs ORDER BY sec, c1"""))

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/fileformat_sequencefile.q + clientpositive/fileformat_text.q
    fileformatBody("q847_qf_fileformat_sequencefile",
      "org.apache.hadoop.mapred.SequenceFileInputFormat",
      "org.apache.hadoop.mapred.SequenceFileOutputFormat"),
    fileformatBody("q848_qf_fileformat_text",
      "org.apache.hadoop.mapred.TextInputFormat",
      "org.apache.hadoop.hive.ql.io.IgnoreKeyTextOutputFormat"),

    // ---- clientpositive/rcfile_createas1.q: RCFile CTAS under block-level
    //      merge confs; TRANSFORM hash-sums of source and CTAS copy agree
    QueryDef(
      "q849_qf_rcfile_createas1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val a = s"rcfile_createas1a_$sfx"
        val b = s"rcfile_createas1b_$sfx"
        fresh(s, a, b)
        HiveQl.sql(s, "set hive.merge.rcfile.block.level=true")
        HiveQl.sql(s, s"CREATE TABLE $a (key INT, value STRING) PARTITIONED BY (ds string)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='1') SELECT * FROM src")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $a PARTITION (ds='2') SELECT * FROM src")
        HiveQl.sql(s, s"""CREATE TABLE $b
          STORED AS RCFILE AS
            SELECT key, value, PMOD(HASH(key), 50) as part
            FROM $a""")
        def thash(t: String) = leg(0, HiveQl.sql(s,
          s"""SELECT SUM(HASH(c)) FROM (
              SELECT TRANSFORM(key, value) USING 'tr \\t _' AS (c)
              FROM $t) t""")).localCheckpoint(true)
        val (ha, hb) = (thash(a), thash(b).select(lit(1).as("sec"), col("c1")))
        Seq(a, b).foreach(t => HiveQl.sql(s, s"drop table $t"))
        ha.union(hb).orderBy("sec", "c1")
      },
      Some(s"""$SrcCte,
        h AS (SELECT CAST(sum(${jh("CAST(CAST(key AS INT) AS VARCHAR) || '_' || value")} * 2) AS VARCHAR) AS c1 FROM src),
        legs AS (SELECT 0 AS sec, c1 FROM h UNION ALL SELECT 1, c1 FROM h)
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/rcfile_lazydecompress.q: RCFile filters +
    //      group-bys over plain then COMPRESSED rcfile data; the LIMIT 10
    //      insert is LIMIT-class, so the engine-filtered results are
    //      checked for consistency against the table's own full contents
    QueryDef(
      "q850_qf_rcfile_lazydecompress",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"rcfile_lazy_q850_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE table $t (key STRING, value STRING) STORED AS RCFile")
        def half(sec: Int): Seq[DataFrame] = {
          HiveQl.sql(s, s"FROM src INSERT OVERWRITE TABLE $t " +
            "SELECT src.key, src.value LIMIT 10")
          val all = HiveQl.sql(s, s"SELECT key, value FROM $t").collect()
            .map(r => (r.getString(0), r.getString(1)))
          val g1 = HiveQl.sql(s,
            s"SELECT key, value FROM $t where key > 238").collect()
            .map(r => (r.getString(0), r.getString(1)))
          val g2 = HiveQl.sql(s,
            s"SELECT key, value FROM $t where key > 238 and key < 400").collect()
            .map(r => (r.getString(0), r.getString(1)))
          val g3 = HiveQl.sql(s,
            s"SELECT key, count(1) FROM $t where key > 238 group by key").collect()
            .map(r => (r.getString(0), r.getLong(1)))
          val exp1 = all.filter(_._1.toDouble > 238).sorted.toSeq
          val exp2 = exp1.filter(_._1.toDouble < 400)
          val exp3 = exp1.groupBy(_._1).map { case (k, v) => (k, v.length.toLong) }
            .toSeq.sorted
          facts(s, sec, Seq(
            "rows" -> all.length.toString,
            "gt238" -> (g1.sorted.toSeq == exp1).toString,
            "range" -> (g2.sorted.toSeq == exp2).toString,
            "grouped" -> (g3.sorted.toSeq == exp3).toString)) :: Nil
        }
        val h0 = half(0)
        HiveQl.sql(s, "set mapred.output.compress=true")
        HiveQl.sql(s, "set hive.exec.compress.output=true")
        val h1 = half(1)
        HiveQl.sql(s, "set mapred.output.compress=false")
        HiveQl.sql(s, "set hive.exec.compress.output=false")
        HiveQl.sql(s, s"drop table $t")
        ordered(h0 ++ h1)
      },
      Some("""SELECT * FROM (VALUES
        (0, 'grouped|true'), (0, 'gt238|true'), (0, 'range|true'), (0, 'rows|10'),
        (1, 'grouped|true'), (1, 'gt238|true'), (1, 'range|true'), (1, 'rows|10'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/rcfile_null_value.q: empty-string/NULL fidelity
    //      through RCFile + the nested FROM-first RIGHT OUTER into RC
    QueryDef(
      "q851_qf_rcfile_null_value",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val src1rc = s"src1_rc_q851_$sfx"
        val d = s"dest1_rc_q851_$sfx"
        fresh(s, src1rc, d)
        HiveQl.sql(s, s"CREATE TABLE $src1rc(key STRING, value STRING) STORED AS RCFILE")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $src1rc SELECT * FROM src1")
        val d0 = leg(0, HiveQl.sql(s, s"SELECT * FROM $src1rc")).localCheckpoint(true)
        HiveQl.sql(s, s"CREATE TABLE $d(c1 INT, c2 STRING, c3 INT, c4 STRING) STORED AS RCFILE")
        HiveQl.sql(s, s"""FROM (
           FROM
            (
            FROM src src1 SELECT src1.key AS c1, src1.value AS c2 WHERE src1.key > 10 and src1.key < 20
            ) a
           RIGHT OUTER JOIN
           (
            FROM src src2 SELECT src2.key AS c3, src2.value AS c4 WHERE src2.key > 15 and src2.key < 25
           ) b
           ON (a.c1 = b.c3)
           SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3, b.c4 AS c4
          ) c
          INSERT OVERWRITE TABLE $d SELECT c.c1, c.c2, c.c3, c.c4""")
        val d1 = leg(1, HiveQl.sql(s, s"SELECT $d.* FROM $d")).localCheckpoint(true)
        Seq(src1rc, d).foreach(t => HiveQl.sql(s, s"drop table $t"))
        d0.union(d1).orderBy("sec", "c1")
      },
      Some(s"""$Src1Cte,
        a AS (SELECT CAST(key AS INT) AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT CAST(key AS INT) AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25),
        legs AS (
          ${legSql(0, Seq("key", "value"), "FROM src1")}
          UNION ALL ${legSql(1, Seq("a.c1", "a.c2", "b.c3", "b.c4"),
            "FROM a RIGHT OUTER JOIN b ON a.c1 = b.c3")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/query_result_fileformat.q: a CTAS value with
    //      embedded newlines survives; result reads are identical under
    //      hive.query.result.fileformat=SequenceFile
    QueryDef(
      "q852_qf_query_result_fileformat",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"nzhang_test1_q852_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"""create table $t stored as sequencefile as
          select 'key1' as key, 'value\n1\n\nhttp://asdf' value from src limit 1""")
        def dumps(sec: Int): Seq[DataFrame] = Seq(
          leg(sec, HiveQl.sql(s, s"select * from $t")).localCheckpoint(true),
          facts(s, sec + 1, Seq("cnt" -> cnt(s, s"select count(*) from $t").toString)),
          leg(sec + 2, HiveQl.sql(s, s"select * from $t where key='key1'"))
            .localCheckpoint(true))
        val a = dumps(0)
        HiveQl.sql(s, "set hive.query.result.fileformat=SequenceFile")
        val b = dumps(10)
        val out = ordered(a ++ b)
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'key1|value
1

http://asdf'), (1, 'cnt|1'), (2, 'key1|value
1

http://asdf'),
        (10, 'key1|value
1

http://asdf'), (11, 'cnt|1'), (12, 'key1|value
1

http://asdf')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/insert1.q: insert from an always-false filter
    QueryDef(
      "q853_qf_insert1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (i1, i2) = (s"insert1_q853_$sfx", s"insert2_q853_$sfx")
        fresh(s, i1, i2)
        HiveQl.sql(s, s"create table $i1(key int, value string) stored as textfile")
        HiveQl.sql(s, s"create table $i2(key int, value string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $i1 select a.key, a.value from $i2 a WHERE (a.key=-1)")
        val f = facts(s, 0, Seq("rows" -> cnt(s, s"select count(1) from $i1").toString))
        Seq(i1, i2).foreach(t => HiveQl.sql(s, s"drop table $t"))
        f.orderBy("sec", "c1")
      },
      Some("SELECT 0 AS sec, 'rows|0' AS c1")),

    // ---- clientpositive/insert_compressed.q: INSERT INTO accumulation
    //      under compressed output; count grows 500/1000/1500
    QueryDef(
      "q854_qf_insert_compressed",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"insert_compressed_q854_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "set hive.exec.compress.output=true")
        HiveQl.sql(s, s"create table $t (key int, value string)")
        HiveQl.sql(s, s"insert overwrite table $t select * from src")
        val f0 = facts(s, 0, Seq("cnt" -> cnt(s, s"select count(*) from $t").toString))
        HiveQl.sql(s, s"insert into table $t select * from src")
        val f1 = facts(s, 1, Seq("cnt" -> cnt(s, s"select count(*) from $t").toString))
        HiveQl.sql(s, s"insert into table $t select * from src")
        val f2 = facts(s, 2, Seq("cnt" -> cnt(s, s"select count(*) from $t").toString))
        HiveQl.sql(s, "set hive.exec.compress.output=false")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1, f2))
      },
      Some("""SELECT * FROM (VALUES (0, 'cnt|500'), (1, 'cnt|1000'),
        (2, 'cnt|1500')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/insertexternal1.q: insert through a partition
    //      ADDed at an external LOCATION; reads resolve that directory
    QueryDef(
      "q855_qf_insertexternal1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"texternal_q855_$sfx"
        val store = s"/tmp/graft_texternal_$sfx"
        fresh(s, t)
        val p = new org.apache.hadoop.fs.Path(store)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$store/2008-01-01"))
        HiveQl.sql(s, s"create table $t(key string, val string) partitioned by (insertdate string)")
        HiveQl.sql(s, s"alter table $t add partition (insertdate='2008-01-01') " +
          s"location 'file://$store/2008-01-01'")
        HiveQl.sql(s, s"from src insert overwrite table $t " +
          "partition (insertdate='2008-01-01') select *")
        val d = leg(0, HiveQl.sql(s,
          s"select * from $t where insertdate='2008-01-01'")).localCheckpoint(true)
        HiveQl.sql(s, s"drop table $t")
        fs.delete(p, true)
        d.orderBy("sec", "c1")
      },
      Some(s"""$SrcCte, legs AS (${legSql(0,
        Seq("key", "value", "'2008-01-01'"), "FROM src")})
        SELECT * FROM legs ORDER BY sec, c1""")),

    // ---- clientpositive/lateral_view_ppd.q: predicate pushdown through
    //      LATERAL VIEW explode — outer key/partition/generator filters
    QueryDef(
      "q856_qf_lateral_view_ppd",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "set hive.optimize.ppd=true")
        val d0 = leg(0, HiveQl.sql(s,
          "SELECT value, myCol FROM (SELECT * FROM src LATERAL VIEW " +
            "explode(array(1,2,3)) myTable AS myCol) a WHERE key='0'"))
          .localCheckpoint(true)
        val d1 = leg(1, HiveQl.sql(s,
          "SELECT value, myCol FROM (SELECT * FROM src LATERAL VIEW " +
            "explode(array(1,2,3)) myTable AS myCol) a WHERE key='0' AND myCol=1"))
          .localCheckpoint(true)
        val lim = HiveQl.sql(s,
          "SELECT value, myCol FROM (SELECT * FROM srcpart LATERAL VIEW " +
            "explode(array(1,2,3)) myTable AS myCol) a " +
            "WHERE ds='2008-04-08' AND hr=\"12\" LIMIT 12").collect()
        val f2 = facts(s, 2, Seq(
          "cnt" -> lim.length.toString,
          "mycol_range" -> lim.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 3).toString,
          "values_ok" -> lim.forall(_.getString(0).startsWith("val_")).toString))
        val d3 = leg(3, HiveQl.sql(s,
          "SELECT value, myCol FROM (SELECT * FROM src LATERAL VIEW " +
            "explode(array(1,2,3)) myTable AS myCol LATERAL VIEW " +
            "explode(array(1,2,3)) myTable2 AS myCol2) a WHERE key='0'"))
          .localCheckpoint(true)
        ordered(Seq(d0, d1, f2, d3))
      },
      Some(s"""$SrcCte,
        z AS (SELECT value FROM src WHERE key = '0'),
        e3 AS (SELECT * FROM (VALUES (1),(2),(3)) v(c)),
        legs AS (
          ${legSql(0, Seq("value", "c"), "FROM z, e3")}
          UNION ALL ${legSql(1, Seq("value", "1"), "FROM z")}
          UNION ALL SELECT * FROM (VALUES (2, 'cnt|12'),
            (2, 'mycol_range|true'), (2, 'values_ok|true')) f(sec, c1)
          UNION ALL ${legSql(3, Seq("value", "c"),
            "FROM z, e3, (SELECT * FROM (VALUES (1),(2),(3)) w(c2)) e32")})
        SELECT * FROM legs ORDER BY sec, c1"""))
  )
}
