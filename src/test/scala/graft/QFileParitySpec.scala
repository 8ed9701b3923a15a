package graft

import org.apache.spark.sql.functions._
import graft.operators.QFileParity.RefData

/** The clientpositive parity battery's fixture and dialect guarantees
  * (q139-q145 carry the end-to-end oracle checks; this pins what the oracle
  * can't see).
  */
class QFileParitySpec extends SparkSpec {

  private def runQ(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("src fixture: 500 rows, kv1-shaped duplicate keys (counts above 3)") {
    // registry queries run in isolated sessions, so register the fixture
    // views on THIS session directly (and still exercise a battery query)
    runQ("q143_qf_having").collect()
    operators.QFileParity.registerFixtures(spark, sfDir)
    val src = spark.table("src")
    assert(src.count() === 500)
    val hist = src.groupBy("key").count()
    assert(hist.filter(col("count") > 3).count() > 0,
      "having.q's `HAVING c > 3` must be non-empty on the fixture")
    assert(hist.count() < 500, "fixture must have duplicate keys like kv1")
  }

  test("STORED AS TEXTFILE dest is real Hive text on disk (^A, \\N-free)") {
    runQ("q139_qf_groupby1").collect()
    val sfx = (sfDir.hashCode & Int.MaxValue).toString
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
        match { case p if new java.io.File(p).isDirectory => p
                case _ => spark.conf.get("spark.sql.warehouse.dir") },
      s"dest_g1_$sfx")
    val parts = Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts.nonEmpty, s"no part files under $wh")
    val text = scala.io.Source.fromFile(parts.head, "UTF-8").mkString
    assert(text.contains("\u0001"),
      "rows must be ^A-delimited (LazySimpleSerDe default)")
    assert(!text.contains(","), "no CSV-style commas — this is Hive text")
  }

  test("TEXTFILE tables keep LazySimpleSerDe null semantics: '' vs \\N") {
    // the distinction Spark's CSV source cannot express (unquoted empty
    // reads as null there) — the reason STORED AS TEXTFILE resolves to the
    // graft hivetext FileFormat
    spark.sql("DROP TABLE IF EXISTS ht_sem")
    HiveQl.sql(spark, "CREATE TABLE ht_sem (k INT, v STRING) STORED AS TEXTFILE")
    HiveQl.sql(spark, "INSERT INTO ht_sem SELECT 1, ''")
    HiveQl.sql(spark, "INSERT INTO ht_sem SELECT 2, CAST(NULL AS STRING)")
    HiveQl.sql(spark, "INSERT INTO ht_sem SELECT 3, 'x'")
    val rows = spark.table("ht_sem").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) "NULL" else "[" + r.getString(1) + "]")).toMap
    assert(rows === Map(1 -> "[]", 2 -> "NULL", 3 -> "[x]"),
      s"LazyString: '' is a STRING, only \\N is null — got $rows")
    spark.sql("DROP TABLE ht_sem")
  }

  test("hivetext: one large file reads in multiple splits, rows exact") {
    val dir = java.nio.file.Files.createTempDirectory("ht_split").toString
    import spark.implicits._
    (0L until 50000L).map(i => (i, s"row_$i")).toDF("k", "v")
      .coalesce(1).write.format("graft.sources.HiveTextSource")
      .mode("overwrite").save(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val df = spark.read.format("graft.sources.HiveTextSource")
        .schema("k BIGINT, v STRING").load(dir)
      assert(df.rdd.getNumPartitions > 1, "must split one big text file")
      assert(df.count() === 50000)
      assert(df.agg(org.apache.spark.sql.functions.sum($"k")).head.getLong(0)
        === 49999L * 50000L / 2, "exactly-once line delivery across splits")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("SEQUENCEFILE tables hold the reference container layout on disk") {
    spark.sql("DROP TABLE IF EXISTS hs_sem")
    HiveQl.sql(spark, "CREATE TABLE hs_sem (k INT, v STRING) STORED AS SEQUENCEFILE")
    HiveQl.sql(spark, "INSERT INTO hs_sem SELECT 1, ''")
    HiveQl.sql(spark, "INSERT INTO hs_sem SELECT 2, CAST(NULL AS STRING)")
    HiveQl.sql(spark, "INSERT INTO hs_sem SELECT 3, 'x'")
    // on-disk: genuine SequenceFiles with the reference's header classes
    // (HiveSequenceFileOutputFormat.java:40-43 — BytesWritable key, Text row)
    val loc = spark.sql("DESCRIBE EXTENDED hs_sem").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val dir = new java.io.File(new java.net.URI(loc))
    val seqs = dir.listFiles().filter(_.getName.endsWith(".seq"))
    assert(seqs.nonEmpty, s"no .seq parts in $dir")
    val head = java.nio.file.Files.readAllBytes(seqs.head.toPath)
    assert(new String(head.take(3), "US-ASCII") == "SEQ", "SequenceFile magic")
    val headStr = new String(head, "ISO-8859-1")
    assert(headStr.contains("org.apache.hadoop.io.BytesWritable") &&
      headStr.contains("org.apache.hadoop.io.Text"), "reference key/value classes")
    // LazyString semantics survive the container: '' is a STRING, \N is null
    val rows = spark.table("hs_sem").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) "NULL" else "[" + r.getString(1) + "]")).toMap
    assert(rows === Map(1 -> "[]", 2 -> "NULL", 3 -> "[x]"), rows.toString)
    spark.sql("DROP TABLE hs_sem")
  }

  test("hiveseq: one large SequenceFile reads in multiple splits, rows exact") {
    val dir = java.nio.file.Files.createTempDirectory("hs_split").toString
    import spark.implicits._
    (0L until 50000L).map(i => (i, s"row_$i")).toDF("k", "v")
      .coalesce(1).write.format("graft.sources.HiveSeqSource")
      .mode("overwrite").save(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      val df = spark.read.format("graft.sources.HiveSeqSource")
        .schema("k BIGINT, v STRING").load(dir)
      assert(df.rdd.getNumPartitions > 1, "must split one big SequenceFile")
      assert(df.count() === 50000)
      assert(df.agg(org.apache.spark.sql.functions.sum($"k")).head.getLong(0)
        === 49999L * 50000L / 2, "exactly-once record delivery across splits")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("RCFILE tables hold the reference container layout; '' vs \\N survives") {
    spark.sql("DROP TABLE IF EXISTS rc_sem")
    HiveQl.sql(spark, "CREATE TABLE rc_sem (k INT, v STRING) STORED AS RCFILE")
    HiveQl.sql(spark, "INSERT INTO rc_sem SELECT 1, ''")
    HiveQl.sql(spark, "INSERT INTO rc_sem SELECT 2, CAST(NULL AS STRING)")
    HiveQl.sql(spark, "INSERT INTO rc_sem SELECT 3, 'x'")
    val loc = spark.sql("DESCRIBE EXTENDED rc_sem").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val dir = new java.io.File(new java.net.URI(loc))
    val rcs = dir.listFiles().filter(_.getName.endsWith(".rc"))
    assert(rcs.nonEmpty, s"no .rc parts in $dir")
    val head = java.nio.file.Files.readAllBytes(rcs.head.toPath)
    // RCFile header: SEQ\x06 preamble + the reference's KeyBuffer/ValueBuffer
    // class names (RCFile.java:100-133)
    assert(head.take(4).toSeq == Seq[Byte]('S', 'E', 'Q', 6), "RCFile preamble")
    val headStr = new String(head, "ISO-8859-1")
    assert(headStr.contains("RCFile$KeyBuffer") &&
      headStr.contains("RCFile$ValueBuffer"), "reference key/value classes")
    val rows = spark.table("rc_sem").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) "NULL" else "[" + r.getString(1) + "]")).toMap
    assert(rows === Map(1 -> "[]", 2 -> "NULL", 3 -> "[x]"), rows.toString)
    spark.sql("DROP TABLE rc_sem")
  }

  test("hiverc: one large RCFile reads in multiple splits, rows exact") {
    val dir = java.nio.file.Files.createTempDirectory("rc_split").toString
    import spark.implicits._
    (0L until 50000L).map(i => (i, s"row_$i")).toDF("k", "v")
      .coalesce(1).write.format("graft.sources.HiveRCSource")
      .mode("overwrite").save(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      val df = spark.read.format("graft.sources.HiveRCSource")
        .schema("k BIGINT, v STRING").load(dir)
      assert(df.rdd.getNumPartitions > 1, "must split one big RCFile")
      assert(df.count() === 50000)
      assert(df.agg(org.apache.spark.sql.functions.sum($"k")).head.getLong(0)
        === 49999L * 50000L / 2, "exactly-once record delivery across splits")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("REFERENCE-PRODUCED RCFiles decode exactly (data/files/smbbucket_*.rc)") {
    // the definitive interchange proof: these .rc files were written by
    // the reference's own RCFile writer (data/files; loaded by
    // smb_mapjoin_*.q), not by our code — decode must match the golden
    // contents the reference's .q.out results show
    val expected = Map(
      "smbbucket_1" -> Seq(1, 3, 4, 5, 10),
      "smbbucket_2" -> Seq(20, 23, 25, 30),
      "smbbucket_3" -> Seq(4, 10, 17, 19, 20, 23))
    for ((f, keys) <- expected) {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$RefData/$f.rc"))
      val (nc, rows) = graft.sources.HiveRCFile.readFile(bytes)
      assert(nc == 2, s"$f declares $nc columns")
      val got = rows.toVector.map(r =>
        (new String(r(0), "UTF-8"), new String(r(1), "UTF-8")))
      assert(got == keys.map(k => (k.toString, s"val_$k")),
        s"$f decoded to $got")
    }
  }

  test("REFERENCE-PRODUCED kv1.seq reads through hiveseq (foreign key class)") {
    // kv1.seq carries org.apache.hadoop.hive.ql.exec.ByteWritable keys — a
    // class NOT on this classpath — so the raw record walk kicks in and
    // yields the same 500 rows kv1.txt holds
    val df = spark.read.format("graft.sources.HiveSeqSource")
      .schema("key INT, value STRING")
      .load(s"$RefData/kv1.seq")
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      .sorted
    val want = scala.io.Source.fromFile(
        s"$RefData/kv1.txt", "UTF-8")
      .getLines().map { l =>
        val p = l.split(""); (p(0).toInt, p(1))
      }.toSeq.sorted
    assert(got.size == 500 && got == want,
      s"kv1.seq decoded ${got.size} rows; first diff: ${
        got.zip(want).find(t => t._1 != t._2)}")
  }

  test("truncated SequenceFile (kv1_broken.seq) fails loudly, never silently") {
    // the reference ships a mid-record-truncated fixture; a reader that
    // silently dropped the tail would hide corruption — ours must throw
    val e = intercept[Exception] {
      spark.read.format("graft.sources.HiveSeqSource")
        .schema("key INT, value STRING")
        .load(s"$RefData/kv1_broken.seq")
        .collect()
    }
    assert(e != null)
  }

  test("ctas.q formats land on disk: RCFile parts and comma-delimited text") {
    runQ("q169_qf_ctas").collect()
    val sfx = (sfDir.hashCode & Int.MaxValue).toString
    def loc(t: String): java.io.File = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE EXTENDED $t").collect()
        .find(_.getString(0) == "Location").get.getString(1)))
    // ctas3: `stored as RCFile` through CTAS → genuine .rc parts
    val rcs = loc(s"nzhang_ctas3_$sfx").listFiles().filter(_.getName.endsWith(".rc"))
    assert(rcs.nonEmpty, "ctas3 must land .rc parts")
    assert(java.nio.file.Files.readAllBytes(rcs.head.toPath).take(4).toSeq ==
      Seq[Byte]('S', 'E', 'Q', 6), "RCFile preamble")
    // ctas4: `fields terminated by ','` → comma-delimited Hive text
    val txts = loc(s"nzhang_ctas4_$sfx").listFiles()
      .filter(f => f.getName.endsWith(".txt") && !f.getName.endsWith(".crc"))
    assert(txts.nonEmpty, "ctas4 must land .txt parts")
    val text = scala.io.Source.fromFile(txts.head, "UTF-8").mkString
    assert(text.contains(",") && !text.contains(""),
      s"ctas4 rows must be comma-delimited: ${text.take(80)}")
  }

  test("STORED AS INPUTFORMAT/OUTPUTFORMAT long form maps to the FileFormats") {
    // rcfile_columnar.q's spelling (Hive.g:1171-1176 tableFileFormat)
    val r = HiveQl.rewrite("""CREATE table columnTable (key STRING, value STRING)
      ROW FORMAT SERDE
        'org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe'
      STORED AS
        INPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileInputFormat'
        OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileOutputFormat'""")
    assert(r.contains("USING graft.sources.HiveRCSource"), r)
    assert(!r.toUpperCase.contains("ROW FORMAT SERDE"), r)
    // an unmapped pair is a loud error, not a silent passthrough
    val e = intercept[IllegalStateException](HiveQl.rewrite(
      "CREATE TABLE t (k INT) STORED AS INPUTFORMAT 'x.MysteryIn' OUTPUTFORMAT 'x.MysteryOut'"))
    assert(e.getMessage.contains("unmapped"), e.getMessage)
  }

  test("std/stddev/variance resolve to Hive POPULATION semantics") {
    Sessions.ensureRegistered(spark)
    import spark.implicits._
    Seq(1.0, 2.0, 3.0, 4.0).toDF("x").createOrReplaceTempView("stdsem")
    val r = spark.sql(
      "SELECT std(x) AS s, stddev(x) AS sd, variance(x) AS v FROM stdsem")
      .head()
    // population: var = 1.25, std = sqrt(1.25); sample would be 5/3
    assert(math.abs(r.getDouble(2) - 1.25) < 1e-12,
      s"variance must be population (got ${r.getDouble(2)})")
    assert(math.abs(r.getDouble(0) - math.sqrt(1.25)) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(1.25)) < 1e-12)
  }

  test("battery queries return rows and deterministic re-runs") {
    for (q <- Seq("q139_qf_groupby1", "q140_qf_groupby3", "q141_qf_input12",
        "q142_qf_join2", "q144_qf_union3", "q145_qf_input_part1",
        "q146_qf_join25", "q147_qf_sample2", "q148_qf_cast1",
        "q149_qf_udf_case_when", "q151_qf_groupby7", "q153_qf_quote1",
        "q155_qf_groupby_ppr", "q157_qf_seqfile", "q158_qf_rcfile_union",
        "q159_qf_mapreduce1", "q160_qf_groupby8", "q161_qf_union2",
        "q162_qf_join18", "q163_qf_input8", "q164_qf_udf9",
        "q165_qf_union", "q166_qf_groupby6", "q167_qf_input14",
        "q168_qf_scriptfile1", "q169_qf_ctas", "q170_qf_smb_rcfile",
        "q171_qf_alter2", "q172_qf_testxpath", "q173_qf_testxpath2", "q174_qf_case_sensitivity",
        "q175_qf_nullinput", "q176_qf_input9", "q177_qf_udf_length",
        "q178_qf_join_filters", "q179_qf_rename_column")) {
      val a = runQ(q).collect()
      assert(a.nonEmpty, s"$q returned no rows")
      val b = runQ(q).collect()
      assert(a.toSeq === b.toSeq, s"$q re-run differs (stale dest parts?)")
    }
  }
}
