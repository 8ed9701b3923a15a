package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.Files

import graft.sources.HiveRCFile
import org.apache.hadoop.io.Text
import org.apache.spark.sql.functions._

/** RCFile codec against the documented reference layout (RCFile.java) —
  * decode checked against a HAND-BUILT golden file (framing ints/vints
  * written as literal bytes straight from the format spec, so the reader
  * is tested against the format, not against the writer), plus write/read
  * round trips covering RLE runs, multi-group files, sync markers, nulls,
  * and the DataFrame surface.
  */
class RCFileSpec extends SparkSpec {

  private def rle(lens: Int*): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    HiveRCFile.encodeCellLengths(lens, new DataOutputStream(b))
    b.toByteArray
  }

  test("cell-length RLE matches the documented example: 1,1,1,2 -> 1,~2,2") {
    // single-byte vlongs: 1, ~2 (= -3), 2  (RCFile.java:581-584)
    assert(rle(1, 1, 1, 2).toSeq === Seq[Byte](1, -3, 2))
    // no run for non-repeating lengths: 1,2,3 -> 1,2,3
    assert(rle(1, 2, 3).toSeq === Seq[Byte](1, 2, 3))
    val back = HiveRCFile.decodeCellLengths(
      new DataInputStream(new ByteArrayInputStream(rle(5, 5, 5, 5, 7, 1, 1))), 7)
    assert(back.toSeq === Seq(5, 5, 5, 5, 7, 1, 1))
  }

  test("golden: a hand-built file from the format spec decodes correctly") {
    // 1 column, 2 rows: "ab", "c" — every framing value written literally
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(Array[Byte]('S', 'E', 'Q', 6))
    Text.writeString(out, HiveRCFile.KeyClassName)
    Text.writeString(out, HiveRCFile.ValueClassName)
    out.writeBoolean(false) // no compression
    out.writeBoolean(false) // never block-compressed
    out.writeInt(1)         // metadata: one entry
    Text.writeString(out, HiveRCFile.ColumnNumberKey)
    Text.writeString(out, "1")
    val sync = Array.tabulate[Byte](16)(_.toByte)
    out.write(sync)
    // KeyBuffer, all single-byte vlongs: numRows=2 | colDiskLen=3,
    // uncompressedLen=3, cellLenBufLen=2, cell lens 2,1
    val key = Array[Byte](2, 3, 3, 2, 2, 1)
    out.writeInt(key.length + 3) // record length
    out.writeInt(key.length)     // key length
    out.writeInt(key.length)     // plain key length (uncompressed)
    out.write(key)
    out.write("abc".getBytes("UTF-8")) // column blob: "ab" + "c"
    val (nc, rows) = HiveRCFile.readFile(bos.toByteArray)
    assert(nc == 1)
    val got = rows.map(_.map(new String(_, "UTF-8")).toSeq).toSeq
    assert(got === Seq(Seq("ab"), Seq("c")))
  }

  test("file round trip: nulls, empty cells, RLE runs, multiple row groups") {
    val rows = (0 until 25).map { i =>
      Seq(s"row$i".getBytes("UTF-8"),
        (if (i % 5 == 0) HiveRCFile.NullSeq else "x" * (i % 3)).getBytes("UTF-8"))
    }
    val bos = new ByteArrayOutputStream()
    HiveRCFile.writeFile(new DataOutputStream(bos), 2, rows.iterator,
      groupRows = 4) // 25 rows / 4 per group = 7 records
    val (nc, back) = HiveRCFile.readFile(bos.toByteArray)
    assert(nc == 2)
    val got = back.map(_.map(new String(_, "UTF-8")).toSeq).toSeq
    assert(got === rows.map(_.map(new String(_, "UTF-8"))))
  }

  test("sync markers appear past the interval and the reader resyncs") {
    // enough volume to force sync escapes between records (interval 2000 B)
    val rows = (0 until 3000).map(i => Seq(s"v$i-${"p" * 20}".getBytes("UTF-8")))
    val bos = new ByteArrayOutputStream()
    HiveRCFile.writeFile(new DataOutputStream(bos), 1, rows.iterator,
      groupRows = 100)
    val bytes = bos.toByteArray
    // the escape (int -1) must actually occur in the stream
    assert((0 until bytes.length - 4).exists(i =>
      bytes(i) == -1 && bytes(i + 1) == -1 && bytes(i + 2) == -1 && bytes(i + 3) == -1),
      "no sync escape written in a 3000-row file")
    val (_, back) = HiveRCFile.readFile(bytes)
    assert(back.size === 3000)
  }

  test("DataFrame round trip with schema-driven casts and null cells") {
    val dir = Files.createTempDirectory("graft-rcfile").toString
    val src = Tables.load(spark, sfDir, "part")
      .filter(col("p_partkey") <= 300)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"),
        when(col("p_partkey") % 7 === 0, lit(null)).otherwise(col("p_brand"))
          .as("maybe_brand"))
    HiveRCFile.write(src, dir)
    val back = HiveRCFile.read(spark, dir, src.schema)
    val a = src.orderBy("p_partkey").collect()
    val b = back.orderBy("p_partkey").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    // one .rc part per input partition, from the executors
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".rc")))
  }

  test("schema drift: REPLACE COLUMNS narrows and widens an RCFILE table without rewrite") {
    // ADVICE r10: the reader required file columns == table columns, but
    // CHANGE/REPLACE COLUMNS reinterpret at read (files never rewritten).
    // ColumnarSerDe semantics: extra file columns are skipped unread,
    // missing ones read as NULL — like the hivetext/hiveseq readers.
    spark.sql("DROP TABLE IF EXISTS rc_drift")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "rc_drift"))
    HiveQl.sql(spark,
      "CREATE TABLE rc_drift(a int, b string, c int) STORED AS RCFILE")
    HiveQl.sql(spark, "INSERT INTO rc_drift SELECT 1, 'x', 10")
    // NARROW: the file still carries 3 columns; reads must skip column c
    HiveQl.sql(spark, "ALTER TABLE rc_drift REPLACE COLUMNS (a int, b string)")
    assert(HiveQl.sql(spark, "SELECT a, b FROM rc_drift").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x")))
    // WIDEN: mapping is positional, so the file's 3rd column is c again
    // (10); columns PAST the file's count (d) read as NULL
    HiveQl.sql(spark,
      "ALTER TABLE rc_drift REPLACE COLUMNS (a int, b string, c int, d string)")
    val wide = HiveQl.sql(spark, "SELECT a, b, c, d FROM rc_drift").collect()
    assert(wide.map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.isNullAt(3)))
      .toSeq == Seq((1, "x", 10, true)),
      "positional reinterpret: file col 3 is c again, d (absent) is NULL")
    // new writes under the wide schema coexist with the 3-column file
    HiveQl.sql(spark, "INSERT INTO rc_drift SELECT 2, 'y', 20, 'z'")
    val all = HiveQl.sql(spark, "SELECT a, d FROM rc_drift ORDER BY a").collect()
    assert(all.map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq == Seq((1, null), (2, "z")))
    spark.sql("DROP TABLE rc_drift")
  }

  test("compressed round trip (DefaultCodec = zlib, the reference's default)") {
    val rows = (0 until 500).map { i =>
      Seq(s"key$i".getBytes("UTF-8"),
        (if (i % 9 == 0) HiveRCFile.NullSeq else s"payload-${i % 7}" * 3)
          .getBytes("UTF-8"))
    }
    val bos = new ByteArrayOutputStream()
    HiveRCFile.writeFile(new DataOutputStream(bos), 2, rows.iterator,
      groupRows = 64, codecName = Some(HiveRCFile.DefaultCodecName))
    val plain = new ByteArrayOutputStream()
    HiveRCFile.writeFile(new DataOutputStream(plain), 2, rows.iterator,
      groupRows = 64)
    // compression actually engaged (repetitive payload compresses well)
    assert(bos.size() < plain.size() / 2,
      s"compressed ${bos.size()} vs plain ${plain.size()}")
    val (nc, back) = HiveRCFile.readFile(bos.toByteArray)
    assert(nc == 2)
    assert(back.map(_.map(new String(_, "UTF-8")).toSeq).toSeq ===
      rows.map(_.map(new String(_, "UTF-8"))))
  }

  test("split reads: every split count yields exactly-once records (sync resync)") {
    // multi-rowgroup file on a real FS path; split boundaries land mid-record,
    // mid-sync, mid-header — the resync + Hadoop boundary rule must hand every
    // record to exactly one split
    val rows = (0 until 3000).map(i => Seq(s"v$i-${"p" * 20}".getBytes("UTF-8")))
    val bos = new ByteArrayOutputStream()
    HiveRCFile.writeFile(new DataOutputStream(bos), 1, rows.iterator,
      groupRows = 100)
    val bytes = bos.toByteArray
    val f = Files.createTempFile("graft-rcsplit", ".rc")
    Files.write(f, bytes)
    val p = new org.apache.hadoop.fs.Path(f.toString)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val expected = rows.map(_.map(new String(_, "UTF-8")))
    for (nSplits <- Seq(2, 3, 5, 8, 13)) {
      val size = (bytes.length + nSplits - 1) / nSplits
      val parts = (0 until nSplits).map { i =>
        HiveRCFile.readSplit(fs, p, i.toLong * size,
          math.min(bytes.length.toLong, (i + 1).toLong * size))
          .map(_.map(new String(_, "UTF-8")).toSeq).toSeq
      }
      assert(parts.count(_.nonEmpty) >= 2,
        s"$nSplits splits: work must actually distribute, got ${parts.map(_.size)}")
      assert(parts.flatten === expected,
        s"$nSplits splits: records lost, duplicated, or reordered")
    }
  }

  test("DataFrame read runs a large file in >=2 input splits, same rows") {
    val dir = Files.createTempDirectory("graft-rcsplit-df").toString
    val src = Tables.load(spark, sfDir, "part")
      .coalesce(1) // ONE .rc file — parallelism must come from splitting it
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
    HiveRCFile.write(src, dir)
    spark.conf.set("graft.rcfile.splitbytes", "2048")
    try {
      val back = HiveRCFile.read(spark, dir, src.schema)
      assert(back.rdd.getNumPartitions >= 2,
        "a file many times the split size must read as multiple tasks")
      val a = src.orderBy("p_partkey").collect()
      val b = back.orderBy("p_partkey").collect()
      assert(a.length == b.length && a.length > 0)
      a.zip(b).foreach { case (x, y) => assert(x === y) }
    } finally spark.conf.unset("graft.rcfile.splitbytes")
  }

  test("write is size-aware and overwrites: slivers coalesce, stale parts go") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rc-sized").toString
    val frag = (1 to 5000).toDF("id").repartition(32) // tiny rows fanned wide
    HiveRCFile.write(frag, dir)
    // a stale part, as a run with more output partitions would leave
    Files.copy(java.nio.file.Paths.get(dir, "part-00000.rc"),
      java.nio.file.Paths.get(dir, "part-00031.rc"))
    HiveRCFile.write(frag, dir) // REBALANCE: AQE sizes the output
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".rc"))
    assert(parts.length == 1,
      s"5000 ints are far below the advisory partition size: one part, not ${parts.length}")
    // overwrite semantics (ADVICE r9): the stale part is gone, and the read
    // sees exactly the latest write
    assert(HiveRCFile.read(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType)))).count() == 5000)
  }

  test("column pruning skips unprojected blobs: corrupt blob never touched") {
    // the rigorous proof that pruning means NOT READING: write a 2-column
    // compressed file, corrupt column 0's compressed blob on disk, and
    // show the pruned read (column 1 only) still succeeds while the full
    // read throws on inflate — if pruning merely discarded parsed cells,
    // both would throw
    val dir = Files.createTempDirectory("rc_prune")
    val f = dir.resolve("part-0.rc").toFile
    val rows = (0 until 100).map { i =>
      Seq(("A" * 50 + i).getBytes("UTF-8"), s"v$i".getBytes("UTF-8"))
    }
    val out = new DataOutputStream(new java.io.FileOutputStream(f))
    HiveRCFile.writeFile(out, 2, rows.iterator,
      codecName = Some(HiveRCFile.DefaultCodecName))
    out.close()
    val p = new org.apache.hadoop.fs.Path(f.toString)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // sanity: intact file reads fully
    assert(HiveRCFile.readSplit(fs, p, 0, f.length).size == 100)
    // locate column 0's blob: header, then record framing —
    // [recordLen][plainKeyLen][storedKeyLen][storedKey][blob0][blob1]
    val bytes = Files.readAllBytes(f.toPath)
    class Cin(b: Array[Byte]) extends ByteArrayInputStream(b) {
      def position: Int = pos
    }
    val cin = new Cin(bytes)
    val din = new DataInputStream(cin)
    HiveRCFile.readHeader(din)
    din.readInt() // recordLen
    din.readInt() // plain key len
    val storedKeyLen = din.readInt()
    din.skipBytes(storedKeyLen)
    val blob0 = cin.position
    // zlib blobs for 100×51-byte cells are far larger than 8 bytes; nuking
    // the stream head guarantees an inflate failure if ever decompressed
    (0 until 8).foreach(k => bytes(blob0 + k) = 0x55)
    Files.write(f.toPath, bytes)
    // pruned read: column 0's blob is skipped unread — success, col1 exact
    val pruned = HiveRCFile.readSplit(fs, p, 0, f.length,
      Some(Array(false, true))).toVector
    assert(pruned.size == 100)
    assert(pruned.zipWithIndex.forall { case (r, i) =>
      r(0) == null && new String(r(1), "UTF-8") == s"v$i"
    }, "pruned read must null col0 and decode col1 exactly")
    // full read inflates the corrupted blob and must fail loudly
    intercept[Exception](HiveRCFile.readSplit(fs, p, 0, f.length).toVector)
  }

  test("malformed input fails loudly") {
    intercept[IllegalArgumentException](
      HiveRCFile.readFile("not an rcfile at all".getBytes("UTF-8")))
    // valid SEQ magic but wrong classes (a real SequenceFile, not RCFile)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(Array[Byte]('S', 'E', 'Q', 6))
    Text.writeString(out, "org.apache.hadoop.io.LongWritable")
    Text.writeString(out, "org.apache.hadoop.io.Text")
    intercept[IllegalArgumentException](HiveRCFile.readFile(bos.toByteArray))
  }
}
