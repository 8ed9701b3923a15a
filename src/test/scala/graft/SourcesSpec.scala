package graft

import java.nio.file.Files
import graft.sources.HiveText
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Hive-delimited TEXTFILE round trip (ref LazySimpleSerDe defaults) and the
  * HiveQl dialect rewrites (MAPJOIN → BROADCAST, STREAMTABLE dropped).
  */
class SourcesSpec extends SparkSpec {

  test("hive \\u0001 text round trip incl array/map encoding and \\N nulls") {
    val dir = Files.createTempDirectory("graft-hivetext").toString
    val df = Tables.load(spark, sfDir, "part")
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        when(col("p_size") % 5 === 0, lit(null)).otherwise(col("p_brand")).as("maybe_brand"),
        HiveText.encodeArray(split(col("p_type"), " ")).as("type_words"),
        HiveText.encodeMap(map(lit("b"), col("p_brand"), lit("t"), col("p_type"))).as("attrs"))
    HiveText.write(df, dir)

    val back = HiveText.read(spark, dir, df.schema)
      .withColumn("type_arr", HiveText.decodeArray(col("type_words")))
      .withColumn("attr_map", HiveText.decodeMap(col("attrs")))

    val orig = df.orderBy("p_partkey").collect()
    val got = back.orderBy("p_partkey").collect()
    assert(got.length == orig.length)
    got.zip(orig).foreach { case (g, o) =>
      assert(g.getLong(0) == o.getLong(0))
      assert(g.getString(1) == o.getString(1))
      assert(g.getAs[Any]("maybe_brand") == o.getAs[Any]("maybe_brand"))
    }
    // decoded nested values reconstruct the original columns
    val probe = back.filter(col("p_partkey") === got.head.getLong(0))
      .select(col("type_arr"), col("attr_map.b"), col("attr_map.t")).head()
    val origRow = Tables.load(spark, sfDir, "part")
      .filter(col("p_partkey") === got.head.getLong(0))
      .select(col("p_type"), col("p_brand")).head()
    assert(probe.getSeq[String](0) == origRow.getString(0).split(" ").toSeq)
    assert(probe.getString(1) == origRow.getString(1))
    assert(probe.getString(2) == origRow.getString(0))
  }

  test("hive text does not quote or escape (LazySimpleSerDe byte semantics)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-noquote").toString
    // fields containing the CSV-default quote and escape characters must
    // round trip as literal bytes, like the reference engine writes them
    val df = Seq((1L, """he said "hi""""), (2L, """back\slash and , comma"""))
      .toDF("id", "s")
    HiveText.write(df, dir)
    // raw bytes on disk: no quoting added
    val raw = spark.read.text(dir).as[String].collect().sorted
    assert(raw.exists(_.endsWith("""he said "hi"""")), raw.mkString("|"))
    assert(raw.exists(_.contains("""back\slash""")), raw.mkString("|"))
    val back = HiveText.read(spark, dir, df.schema).orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq ==
      Seq("""he said "hi"""", """back\slash and , comma"""))
  }

  test("LOAD DATA INPATH lands a hive text file in a catalog table (nested types)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-loaddata").toString + "/f"
    spark.sql("DROP TABLE IF EXISTS load_target")
    spark.sql("""CREATE TABLE load_target
      (id BIGINT, name STRING, tags ARRAY<STRING>, attrs MAP<STRING, INT>)
      USING parquet""")
    // the staged file: nested columns in LazySimpleSerDe one-level encoding
    val staged = Seq(
      (1L, "alpha", Seq("x", "y"), Map("a" -> 1, "b" -> 2)),
      (2L, null: String, Seq("z"), Map("c" -> 3)))
      .toDF("id", "name", "tags", "attrs")
      .select(col("id"), col("name"),
        HiveText.encodeArray(col("tags")).as("tags"),
        HiveText.encodeMap(col("attrs").cast("map<string,string>")).as("attrs"))
    HiveText.write(staged, dir)

    HiveQl.sql(spark, s"LOAD DATA INPATH '$dir' INTO TABLE load_target")
    val got = spark.table("load_target").orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).getSeq[String](2) == Seq("x", "y"))
    assert(got(0).getMap[String, Int](3) == Map("a" -> 1, "b" -> 2))
    assert(got(1).isNullAt(1) && got(1).getMap[String, Int](3) == Map("c" -> 3))

    // OVERWRITE replaces instead of appending
    HiveQl.sql(spark, s"LOAD DATA INPATH '$dir' OVERWRITE INTO TABLE load_target")
    assert(spark.table("load_target").count() == 2)
    spark.sql("DROP TABLE load_target")
  }

  test("repeated LOAD of a dotted filename splits at the LAST dot (copy_N)") {
    // Hive.java:1822-1828: 'a.b.txt' appends as 'a.b_copy_1.txt', keeping
    // the real extension — not 'a_copy_1.b.txt' (ADVICE r11)
    val f = Files.createTempDirectory("graft-loadcopy").resolve("a.b.txt")
    Files.writeString(f, "1x\n")
    spark.sql("DROP TABLE IF EXISTS load_copy_t")
    HiveQl.sql(spark, "CREATE TABLE load_copy_t (k INT, v STRING) STORED AS TEXTFILE")
    HiveQl.sql(spark, s"LOAD DATA LOCAL INPATH '$f' INTO TABLE load_copy_t")
    HiveQl.sql(spark, s"LOAD DATA LOCAL INPATH '$f' INTO TABLE load_copy_t")
    val loc = spark.sql("DESCRIBE EXTENDED load_copy_t").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val names = new java.io.File(new java.net.URI(loc)).listFiles()
      .map(_.getName).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .toSet
    assert(names == Set("a.b.txt", "a.b_copy_1.txt"), names.toString)
    assert(spark.table("load_copy_t").count() == 2)
    spark.sql("DROP TABLE load_copy_t")
  }

  test("CREATE-side bare LazySimpleSerDe maps to hivetext; TRANSFORM serde still strips") {
    // ADVICE r11: the bare form (no STORED AS = Hive's default textfile)
    // was silently stripped, landing the table on the parquet provider
    val r = HiveQl.rewrite("CREATE TABLE t (k INT) ROW FORMAT SERDE " +
      "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'")
    assert(r.contains("USING graft.sources.HiveTextSource"), r)
    assert(!r.toUpperCase.contains("SERDE"), r)
    // the SERDE ... STORED AS TEXTFILE form keeps resolving via the format
    val r1 = HiveQl.rewrite("CREATE TABLE t (k INT) ROW FORMAT SERDE " +
      "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' STORED AS TEXTFILE")
    assert(r1.contains("USING graft.sources.HiveTextSource"), r1)
    // TRANSFORM-side LazySimpleSerDe still strips to Spark's default codec
    val r2 = HiveQl.rewrite("SELECT TRANSFORM(k) ROW FORMAT SERDE " +
      "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' USING 'cat' AS (x) FROM t")
    assert(!r2.toUpperCase.contains("SERDE"), r2)
    // non-default serde properties stay unrewritten (loud delegate error)
    val r3 = HiveQl.rewrite("CREATE TABLE t (k INT) ROW FORMAT SERDE " +
      "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
      "WITH SERDEPROPERTIES ('field.delim'='|')")
    assert(r3.toUpperCase.contains("SERDE"), r3)
  }

  test("delimiter literals outside signed-byte range fall back to charAt(0)") {
    // LazySimpleSerDe.getByte: Byte.valueOf('200') throws, so the
    // delimiter is '2' in the reference — never char 200 (ADVICE r11)
    val r = HiveQl.rewrite("CREATE TABLE t (k INT) ROW FORMAT DELIMITED " +
      "FIELDS TERMINATED BY '200' STORED AS TEXTFILE")
    assert(r.contains("sep '2'"), r)
    // in-range byte codes keep decoding: '9' is TAB
    val r1 = HiveQl.rewrite("CREATE TABLE t (k INT) ROW FORMAT DELIMITED " +
      "FIELDS TERMINATED BY '9' STORED AS TEXTFILE")
    assert(r1.contains("sep '\t'"), r1)
  }

  test("RegexSerDe: write formats via output.format.string; read re-parses; INT columns error") {
    // contrib RegexSerDe.java: serialize = String.format(output.format
    // .string, fields); deserialize = whole-line match, group c+1 per col
    spark.sql("DROP TABLE IF EXISTS regex_rt")
    HiveQl.sql(spark, "CREATE TABLE regex_rt(k STRING, v STRING) " +
      "ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.RegexSerDe' " +
      """WITH SERDEPROPERTIES ("input.regex" = "(\\w+)=(\\w+)", """ +
      """"output.format.string" = "%1$s=%2$s") STORED AS TEXTFILE""")
    HiveQl.sql(spark, "INSERT INTO regex_rt SELECT 'a', 'b'")
    HiveQl.sql(spark, "INSERT INTO regex_rt SELECT 'c', 'd'")
    val got = spark.table("regex_rt").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set("a" -> "b", "c" -> "d"), got.toString)
    // on-disk: the formatted lines, not ^A-delimited text
    val loc = spark.sql("DESCRIBE EXTENDED regex_rt").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val lines = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(f => f.getName.endsWith(".txt"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()).toSet
    assert(lines == Set("a=b", "c=d"), lines.toString)
    spark.sql("DROP TABLE regex_rt")
    // unmatched lines are SKIPPED (RegexSerDe returns a null row)
    val dir = Files.createTempDirectory("regex_skip")
    Files.writeString(dir.resolve("part-0.txt"), "x=1\nnot a match\ny=2\n")
    val df = spark.read.format("graft.sources.HiveRegexSource")
      .schema("k STRING, v STRING")
      .option("input.regex", "(\\w+)=(\\w+)").load(dir.toString)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
    // clientnegative/serde_regex.q: non-STRING columns must fail loudly
    val e = intercept[Exception](HiveQl.sql(spark,
      "CREATE TABLE regex_bad(k STRING, n INT) " +
        "ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.RegexSerDe' " +
        """WITH SERDEPROPERTIES ("input.regex" = "(\\w+)=(\\w+)") STORED AS TEXTFILE"""))
    assert(e.getMessage.contains("only accepts string columns"), e.getMessage)
  }

  test("sequencefile round trip parses hive-delimited values (QTestUtil src_sequencefile)") {
    import graft.sources.HiveSequenceFile
    val dir = Files.createTempDirectory("graft-seq").toString + "/sf"
    val src = Tables.load(spark, sfDir, "nation")
      .selectExpr("cast(n_nationkey AS string) AS key",
        s"concat_ws('${HiveText.FieldDelim}', n_nationkey, n_name, n_regionkey) AS value")
    HiveSequenceFile.writeKV(src, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
    val back = HiveSequenceFile.read(spark, dir, schema).orderBy("n_nationkey")
    val orig = Tables.load(spark, sfDir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
    assert(back.collect().toSeq == orig.collect().toSeq)
  }

  test("sequencefile PRODUCTION write: BytesWritable empty key, nulls as \\N, key-agnostic read") {
    import graft.sources.HiveSequenceFile
    val dir = Files.createTempDirectory("graft-seqprod").toString + "/t"
    val src = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"),
        when(col("n_nationkey") % 4 === 0, lit(null))
          .otherwise(col("n_regionkey")).as("maybe_region"))
    HiveSequenceFile.write(src, dir)
    // the Hive table layout fact: the file header names BytesWritable keys
    // (HiveSequenceFileOutputFormat.java:40-43) — read the header directly
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val reader = new org.apache.hadoop.io.SequenceFile.Reader(
      new org.apache.hadoop.conf.Configuration(),
      org.apache.hadoop.io.SequenceFile.Reader.file(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath)))
    try {
      assert(reader.getKeyClassName == "org.apache.hadoop.io.BytesWritable")
      assert(reader.getValueClassName == "org.apache.hadoop.io.Text")
    } finally reader.close()
    // and the key-agnostic reader round-trips it, nulls intact
    val back = HiveSequenceFile.readTable(spark, dir, src.schema)
      .orderBy("n_nationkey")
    assert(back.collect().toSeq == src.orderBy("n_nationkey").collect().toSeq)
    assert(back.filter(col("maybe_region").isNull).count() > 0)
    // readTable also accepts the (Text, Text) fixture layout
    val tdir = Files.createTempDirectory("graft-seqprod").toString + "/kv"
    HiveSequenceFile.writeKV(Tables.load(spark, sfDir, "nation")
      .selectExpr("cast(n_nationkey AS string) AS key",
        s"concat_ws('${HiveText.FieldDelim}', n_nationkey, n_name) AS value"), tdir)
    val schema2 = org.apache.spark.sql.types.StructType.fromDDL(
      "n_nationkey BIGINT, n_name STRING")
    assert(HiveSequenceFile.readTable(spark, tdir, schema2).count() ==
      Tables.load(spark, sfDir, "nation").count())
  }

  test("sequencefile PRODUCTION write is size-aware and overwrites") {
    import graft.sources.HiveSequenceFile
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-seq-sized").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT")
    def parts: Int = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    HiveSequenceFile.write((1 to 5000).toDF("id").repartition(32), dir) // tiny rows fanned wide
    assert(parts == 1,
      s"5000 ints are far below the advisory partition size: one part, not $parts")
    // overwrite semantics: the second write replaces the first, no stale rows
    HiveSequenceFile.write((1 to 700).toDF("id").repartition(32), dir)
    assert(parts == 1)
    assert(HiveSequenceFile.readTable(spark, dir, schema).as[Int].collect().sorted.toSeq ==
      (1 to 700))
  }

  test("nested collections deeper than one level round trip (8-level separators)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(Seq("a", "b"), Seq("c")), Map("k1" -> Seq(1, 2), "k2" -> Seq(3)),
        ("x", Seq("p", "q"))),
      (2L, Seq(Seq.empty[String]), Map("k3" -> Seq(4)), ("y", Seq("r"))))
      .toDF("id", "aa", "mai", "st")
    val target = df.schema
    val encoded = df.select(col("id"),
      HiveText.encodeNested(col("aa"), target("aa").dataType).as("aa"),
      HiveText.encodeNested(col("mai"), target("mai").dataType).as("mai"),
      HiveText.encodeNested(col("st"), target("st").dataType).as("st"))
    val dir = Files.createTempDirectory("graft-nested").toString
    HiveText.write(encoded, dir)
    val flat = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, aa STRING, mai STRING, st STRING")
    val back = HiveText.read(spark, dir, flat)
      .select(col("id"),
        HiveText.decodeNested(col("aa"), target("aa").dataType).as("aa"),
        HiveText.decodeNested(col("mai"), target("mai").dataType).as("mai"),
        HiveText.decodeNested(col("st"), target("st").dataType).as("st"))
      .orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(back(0).getSeq[Seq[String]](1) == want(0).getSeq[Seq[String]](1))
    assert(back(0).getMap[String, Seq[Int]](2) == want(0).getMap[String, Seq[Int]](2))
    assert(back(0).getStruct(3) == want(0).getStruct(3))
    assert(back(1).getMap[String, Seq[Int]](2) == want(1).getMap[String, Seq[Int]](2))
  }

  test("UNIQUEJOIN ... PRESERVE grammar parses into the chained-outer-join plan") {
    import spark.implicits._
    Seq(1, 2, 3).toDF("k").createOrReplaceTempView("uj_a")
    Seq(2, 3, 4).toDF("k").createOrReplaceTempView("uj_b")
    Seq(3, 5).toDF("k").createOrReplaceTempView("uj_c")
    // PRESERVE a and c: keys survive iff in a PRESERVEd source or in all
    // three (Hive.g:1595-1614 JoinDesc.UNIQUE_JOIN semantics)
    val got = HiveQl.sql(spark,
      """SELECT a.k, b.k, c.k FROM UNIQUEJOIN
           PRESERVE uj_a a (a.k), uj_b b (b.k), PRESERVE uj_c c (c.k)
         ORDER BY coalesce(a.k, b.k, c.k)""").collect()
      .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(got == Seq((1, null, null), (2, 2, null), (3, 3, 3), (null, null, 5)),
      got.toString)
    // without any PRESERVE it degenerates to the inner intersection
    val inner = HiveQl.sql(spark,
      "SELECT a.k FROM UNIQUEJOIN uj_a a (a.k), uj_b b (b.k) ORDER BY a.k")
      .collect().map(_.getInt(0)).toSeq
    assert(inner == Seq(2, 3))
  }

  test("pre-parser never rewrites inside string literals (VERDICT r5 #6)") {
    // TABLESAMPLE spelled inside a literal must pass through byte-identical
    val ts = "SELECT 'orders TABLESAMPLE (BUCKET 1 OUT OF 2 ON k)' AS s"
    assert(HiveQl.rewrite(ts) == ts)
    // hint text inside a literal: neither rewritten to BROADCAST nor dropped
    val hint = "SELECT '/*+ MAPJOIN(t) */ and /*+ STREAMTABLE(t) */' AS s"
    assert(HiveQl.rewrite(hint) == hint)
    // escapes don't end the literal early
    val esc = """SELECT 'it\'s t TABLESAMPLE (BUCKET 1 OUT OF 2 ON k)' AS s"""
    assert(HiveQl.rewrite(esc) == esc)
    // an apostrophe inside a -- comment must not open a literal
    val cmt = "SELECT 1 AS one -- don't rewrite\nFROM uj_a t TABLESAMPLE (BUCKET 1 OUT OF 2 ON k)"
    assert(HiveQl.rewrite(cmt).contains("hash(k)"), HiveQl.rewrite(cmt))
    assert(HiveQl.rewrite(cmt).contains("don't"), HiveQl.rewrite(cmt))
    // outside a literal the rewrite still fires (the mask is transparent)
    val real = "SELECT /*+ MAPJOIN(t) */ s FROM t WHERE s = 'MAPJOIN(t)'"
    assert(HiveQl.rewrite(real) ==
      "SELECT /*+ BROADCAST(t) */ s FROM t WHERE s = 'MAPJOIN(t)'")
    // backtick-quoted identifiers pass verbatim: a quote char inside one
    // must not open a string literal (this text reaches EVERY statement
    // via the injected session parser)
    val bt = "SELECT `odd'name` FROM `t``x` WHERE `a\"b` = 'TABLESAMPLE (BUCKET 1 OUT OF 2 ON k)'"
    assert(HiveQl.rewrite(bt) == bt)
  }

  test("UNIQUEJOIN key expressions may contain nested parens") {
    import spark.implicits._
    Seq("a", "b", "c").toDF("k").createOrReplaceTempView("ujn_a")
    Seq("B", "C", "D").toDF("k").createOrReplaceTempView("ujn_b")
    // upper(...) keys: the old [^)]* source regex truncated at the first
    // `)` and refused; the balanced parse joins on the expression
    val got = HiveQl.sql(spark,
      """SELECT upper(a.k), upper(b.k) FROM UNIQUEJOIN
           ujn_a a (upper(a.k)), ujn_b b (upper(b.k))
         ORDER BY coalesce(upper(a.k), upper(b.k))""").collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    assert(got == Seq(("B", "B"), ("C", "C")), got.toString)
  }

  test("INSERT OVERWRITE DIRECTORY writes query output as hive-delimited text") {
    // the reference's moveTask-to-directory path (every ETL tutorial's
    // 'INSERT OVERWRITE DIRECTORY'); Spark's native form with CSV options
    // matching LazySimpleSerDe gives byte-compatible files
    Tables.registerAll(spark, sfDir)
    val dir = Files.createTempDirectory("graft-iod").toString + "/out"
    spark.sql(s"""INSERT OVERWRITE DIRECTORY '$dir'
      USING csv OPTIONS (sep '${HiveText.FieldDelim}', nullValue '\\\\N', quote '${HiveText.NoQuote}', escape '${HiveText.NoQuote}')
      SELECT n_nationkey, n_name FROM nation""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "n_nationkey BIGINT, n_name STRING")
    val back = HiveText.read(spark, dir, schema).orderBy("n_nationkey").collect()
    val orig = Tables.load(spark, sfDir, "nation")
      .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    assert(back.toSeq == orig.toSeq)
  }

  test("EXPORT TABLE / IMPORT TABLE round trip (ExportSemanticAnalyzer layout)") {
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS exim_src")
    spark.sql("DROP TABLE IF EXISTS exim_dst")
    // a crashed prior run can leave the managed dir without its catalog row
    for (t <- Seq("exim_src", "exim_dst")) {
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    spark.sql("""CREATE TABLE exim_src USING parquet AS
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 200""")
    val dir = Files.createTempDirectory("graft-exim").toString + "/exp"

    HiveQl.sql(spark, s"EXPORT TABLE exim_src TO '$dir'")
    // layout: _metadata descriptor beside data/ (EximUtil)
    assert(new java.io.File(dir, "_metadata").exists())
    assert(new java.io.File(dir, "data").isDirectory)

    // import under an explicit new name → table created with same contents
    HiveQl.sql(spark, s"IMPORT TABLE exim_dst FROM '$dir'")
    val a = spark.table("exim_src").orderBy("o_orderkey").collect().toSeq
    val b = spark.table("exim_dst").orderBy("o_orderkey").collect().toSeq
    assert(a == b && a.nonEmpty)

    // import with no TABLE clause targets the exported name; the table
    // exists AND HOLDS DATA, so the import refuses — ImportSemanticAnalyzer
    // .checkPaths (clientnegative exim_01_nonpart_over_loaded.q); the r15
    // compat checks replaced the old silent append
    val over = intercept[Exception](HiveQl.sql(spark, s"IMPORT FROM '$dir'"))
    assert(over.getMessage.contains("Table exists and contains data files"))
    assert(spark.table("exim_src").count() == a.size)

    // a non-empty EXPORT target is refused, like the reference
    intercept[IllegalArgumentException] {
      HiveQl.sql(spark, s"EXPORT TABLE exim_src TO '$dir'")
    }
    spark.sql("DROP TABLE exim_src")
    spark.sql("DROP TABLE exim_dst")
  }

  test("EXPORT/IMPORT PARTITION specs and IMPORT EXTERNAL ... LOCATION") {
    Tables.registerAll(spark, sfDir)
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("exim_p_src", "exim_p_one", "exim_p_sel", "exim_ext",
        "exim_typed_src", "exim_p_typed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a failed PREVIOUS run strands managed dirs with no catalog entry,
      // which blocks this run's CREATE (LOCATION_ALREADY_EXISTS)
      val stale = new Path(s"$warehouse/$t")
      val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(stale)) fs.delete(stale, true)
    }
    val base = Files.createTempDirectory("graft-exim-p").toString
    // explicit per-run LOCATION: a failed run must never strand a managed
    // warehouse dir that blocks the next run's CREATE
    spark.sql(s"""CREATE TABLE exim_p_src USING parquet LOCATION '$base/p_src' AS
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey <= 300""")
    val perStatus = spark.table("exim_p_src").groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // EXPORT PARTITION: only the matching slice, laid out one directory
    // per partition value (EximUtil partition walk)
    HiveQl.sql(spark,
      s"EXPORT TABLE exim_p_src PARTITION (o_orderstatus='O') TO '$base/po'")
    assert(new java.io.File(s"$base/po/data/o_orderstatus=O").isDirectory,
      "partitioned export must use directory-per-partition layout")
    HiveQl.sql(spark, s"IMPORT TABLE exim_p_one FROM '$base/po'")
    assert(spark.table("exim_p_one").count() == perStatus("O"))
    assert(spark.table("exim_p_one")
      .filter(col("o_orderstatus") =!= "O").count() == 0)

    // full export, partition-selective import (prunes at the scan)
    HiveQl.sql(spark, s"EXPORT TABLE exim_p_src PARTITION (o_orderstatus) TO '$base/pall'")
    HiveQl.sql(spark,
      s"IMPORT TABLE exim_p_sel PARTITION (o_orderstatus='F') FROM '$base/pall'")
    assert(spark.table("exim_p_sel").count() == perStatus("F"))

    // IMPORT EXTERNAL ... LOCATION: unmanaged table; DROP keeps the files
    HiveQl.sql(spark,
      s"IMPORT EXTERNAL TABLE exim_ext FROM '$base/po' LOCATION '$base/ext_loc'")
    assert(spark.table("exim_ext").count() == perStatus("O"))
    spark.sql("DROP TABLE exim_ext")
    assert(spark.read.parquet(s"$base/ext_loc").count() == perStatus("O"),
      "EXTERNAL drop must leave the payload files")

    // fresh import restores the EXPORTED schema: a partitioned export
    // moves o_orderkey-typed partition columns into dir names, which read
    // back path-INFERRED (int) and appended last without the _metadata
    // cast/reorder
    spark.sql("DROP TABLE IF EXISTS exim_typed_src")
    spark.sql("DROP TABLE IF EXISTS exim_p_typed")
    spark.sql(s"""CREATE TABLE exim_typed_src USING parquet
      LOCATION '$base/typed_src' AS
      SELECT o_orderkey, o_orderkey % 3 AS bucket_k, o_orderstatus
      FROM orders WHERE o_orderkey <= 100""")
    HiveQl.sql(spark,
      s"EXPORT TABLE exim_typed_src PARTITION (bucket_k) TO '$base/ptyped'")
    HiveQl.sql(spark, s"IMPORT TABLE exim_p_typed FROM '$base/ptyped'")
    assert(spark.table("exim_p_typed").schema.map(f => (f.name, f.dataType.sql))
      == spark.table("exim_typed_src").schema.map(f => (f.name, f.dataType.sql)),
      "imported schema must match the exported table's types and order")
    assert(spark.table("exim_p_typed").count() ==
      spark.table("exim_typed_src").count())
    spark.sql("DROP TABLE exim_typed_src")
    spark.sql("DROP TABLE exim_p_typed")

    // EXTERNAL without LOCATION binds the table's storage INSIDE the
    // export directory (exim_11_managed_external.q: removing the export
    // removes the data — the reference's external contract)
    HiveQl.sql(spark, s"IMPORT EXTERNAL TABLE exim_ext2 FROM '$base/po'")
    assert(spark.table("exim_ext2").count() == perStatus("O"))
    val extLoc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("exim_ext2"))
      .location.toString
    assert(extLoc.contains(new Path(s"$base/po").toString.stripPrefix("file:")),
      s"external-no-location storage must live in the export dir: $extLoc")
    spark.sql("DROP TABLE exim_ext2")

    for (t <- Seq("exim_p_src", "exim_p_one", "exim_p_sel"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("HiveQl rewrites MAPJOIN to a broadcast plan and drops STREAMTABLE") {
    Tables.registerAll(spark, sfDir)
    val df = HiveQl.sql(spark,
      """SELECT /*+ MAPJOIN(nation) */ /*+ STREAMTABLE(customer) */ n_name, count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("hivetext complex columns round-trip LazySimpleSerDe's separator " +
      "ladder; numeric DELIMITED codes resolve as bytes") {
    val t = "complex_text_rt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // a fresh JVM has an empty catalog but the warehouse dir survives
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir") + "/" + t)
        .getPath))
    // '1'/'2'/'3'/'10' are BYTE CODES (LazySimpleSerDe getByte) = the
    // default \x01 field / \x02 item / \x03 key separators + \n lines
    HiveQl.sql(spark,
      s"""CREATE TABLE $t(a array<int>, c map<string,string>, d int)
          ROW FORMAT DELIMITED
          FIELDS TERMINATED BY '1'
          COLLECTION ITEMS TERMINATED BY '2'
          MAP KEYS TERMINATED BY '3'
          LINES TERMINATED BY '10'
          STORED AS TEXTFILE""")
    HiveQl.sql(spark,
      s"""INSERT OVERWRITE TABLE $t
          SELECT * FROM VALUES
            (array(1, 2, NULL), map('k1', 'v1', 'k2', NULL), 7),
            (CAST(NULL AS ARRAY<INT>), CAST(NULL AS MAP<STRING,STRING>), 8)
          AS v(a, c, d)""")
    // the on-disk bytes are the reference's layout: 1\x022\x02\N ...
    val loc = spark.sql(s"DESCRIBE FORMATTED $t").collect()
      .find(_.getString(0).trim == "Location").get.getString(1).trim
    // the two VALUES rows may land in separate task files — read them all
    val bytes = new java.io.File(new java.net.URI(loc).getPath).listFiles
      .filter(x => x.isFile && !x.getName.startsWith("_")
        && !x.getName.startsWith("."))
      .map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
    assert(bytes.contains("12\\N"), bytes.replace('', '|'))
    assert(bytes.contains("k1v1k2\\N"),
      bytes.replace('', ':').replace('', '|'))
    val got = HiveQl.sql(spark,
      s"SELECT a[0], a[2], c['k1'], c['k2'], d FROM $t ORDER BY d")
      .collect().map(_.toSeq)
    assert(got(0) == Seq(1, null, "v1", null, 7), got(0).toString)
    assert(got(1) == Seq(null, null, null, null, 8), got(1).toString)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("Hive hour/minute/second extract from bare-time strings; " +
      "date-only is NULL (UDFHour semantics)") {
    val r = spark.sql(
      """SELECT hour('13:14:15'), minute('13:14:15'), second('13:14:15'),
                hour('2009-08-07'), hour(TIMESTAMP '2009-08-07 01:02:03')""")
      .collect().head.toSeq
    assert(r == Seq(13, 14, 15, null, 1), r.toString)
  }
}
