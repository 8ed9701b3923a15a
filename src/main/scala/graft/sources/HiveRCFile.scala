package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{SequenceFile, Text, WritableUtils}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** RCFile — the reference's columnar container (closes the last §7.5 format
  * drop). Format re-implemented from the documented on-disk layout (ref:
  * ql/src/java/org/apache/hadoop/hive/ql/io/RCFile.java:100-133 header
  * contract, :194-292 KeyBuffer, :578-634 cell-length run-length encoding,
  * :853-916 record framing) in original code — the same posture as
  * functions/Bitmap's EwahCodec for the javaewah format. Byte-level
  * primitives (vint, Text strings, SequenceFile metadata, the SEQ\x06
  * preamble) go through Hadoop's own public `WritableUtils`/`Text`/
  * `SequenceFile.Metadata` — the exact classes the reference calls — so
  * the header and every varint are byte-compatible by construction.
  *
  * Both the plain and the compressed path are supported (compression is
  * the common production setting): the codec named in the header is
  * instantiated through Hadoop's `CompressionCodec` API — the same classes
  * the reference writer uses — and applied exactly where RCFile.java does:
  * the whole key part as one unit, and each column blob independently.
  *
  * Layout:
  *   header:  SEQ\x06 | keyClassName | valueClassName | compressed? |
  *            false | [codecClassName if compressed] |
  *            metadata{hive.io.rcfile.column.number=N} | 16 sync bytes
  *   record:  [int -1 + 16 sync bytes when ≥2000 B since last sync] |
  *            int recordLen (= PLAIN key size + on-disk value size) |
  *            int plainKeyLen | int storedKeyLen (== plainKeyLen when not
  *            compressed) | key bytes | column blobs
  *   KeyBuffer: vlong numRows | per column: vlong onDiskLen,
  *            vlong uncompressedLen, vlong cellLenBufLen, cell lengths as
  *            RLE vlongs (len, then ~runCount when a length repeats —
  *            1,1,1,2 encodes as 1,~2,2)
  *
  * Scale posture: the WRITE side emits one .rc file per Spark partition
  * from inside the executors (no driver round trip); the READ side is
  * SPLIT-AWARE — byte ranges resync on the sync markers exactly like the
  * reference's RCFileRecordReader, so a large file reads in many tasks
  * (Hadoop boundary semantics: a split owns every record up to the first
  * sync at/after its end; [[readSplit]]).
  */
object HiveRCFile {

  val KeyClassName = "org.apache.hadoop.hive.ql.io.RCFile$KeyBuffer"
  val ValueClassName = "org.apache.hadoop.hive.ql.io.RCFile$ValueBuffer"
  val ColumnNumberKey = "hive.io.rcfile.column.number"
  private val SyncEscape = -1
  private val SyncInterval = 100 * (4 + 16) // RCFile.java:171 SYNC_INTERVAL

  /** Null cell encoding — LazySimpleSerDe's \N, same as HiveText. */
  val NullSeq = "\\N"

  /** Hadoop's zlib codec — the reference's default compression setting. */
  val DefaultCodecName = "org.apache.hadoop.io.compress.DefaultCodec"

  private def codecFor(name: String): org.apache.hadoop.io.compress.CompressionCodec = {
    val c = Class.forName(name).getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.hadoop.io.compress.CompressionCodec]
    c match {
      case cfg: org.apache.hadoop.conf.Configurable =>
        cfg.setConf(new org.apache.hadoop.conf.Configuration())
      case _ =>
    }
    c
  }

  private def deflate(codec: org.apache.hadoop.io.compress.CompressionCodec,
      bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val cos = codec.createOutputStream(bos)
    cos.write(bytes); cos.finish(); cos.close()
    bos.toByteArray
  }

  private def inflate(codec: org.apache.hadoop.io.compress.CompressionCodec,
      bytes: Array[Byte], plainLen: Int): Array[Byte] = {
    val cin = codec.createInputStream(new ByteArrayInputStream(bytes))
    val out = new Array[Byte](plainLen)
    var off = 0
    while (off < plainLen) {
      val n = cin.read(out, off, plainLen - off)
      require(n > 0, s"RCFile: compressed blob ends $off/$plainLen bytes in")
      off += n
    }
    cin.close()
    out
  }

  // ---- cell-length RLE (RCFile.java:578-634) ----

  /** Encode cell lengths: a length is written once; `runCount` additional
    * repeats append ~runCount (ones-complement marks a run, RCFile.java:581).
    */
  def encodeCellLengths(lens: Seq[Int], out: DataOutputStream): Unit = {
    var prev = -1
    var run = 0
    def flush(): Unit = if (prev >= 0) {
      WritableUtils.writeVLong(out, prev.toLong)
      if (run > 0) WritableUtils.writeVLong(out, (~run).toLong)
    }
    lens.foreach { len =>
      if (prev < 0) { prev = len; run = 0 }
      else if (len == prev) run += 1
      else { flush(); prev = len; run = 0 }
    }
    flush()
  }

  /** Decode exactly `numRows` cell lengths from the RLE stream. */
  def decodeCellLengths(in: DataInputStream, numRows: Int): Array[Int] = {
    val out = new Array[Int](numRows)
    var i = 0
    var prev = -1
    while (i < numRows) {
      val v = WritableUtils.readVLong(in)
      if (v < 0) { // ~runCount: repeat prev runCount more times
        require(prev >= 0, "RCFile: run marker before any cell length")
        var run = (~v).toInt
        while (run > 0 && i < numRows) { out(i) = prev; i += 1; run -= 1 }
        require(run == 0, s"RCFile: run overflows declared numRows=$numRows")
      } else {
        out(i) = v.toInt; prev = v.toInt; i += 1
      }
    }
    out
  }

  // ---- single-file write (any OutputStream; caller owns framing) ----

  /** Write one .rc file: `rows` of UTF-8 cell bytes, `groupRows` rows per
    * row-group (the RECORD_INTERVAL analogue).
    */
  def writeFile(out: DataOutputStream, numCols: Int,
      rows: Iterator[Seq[Array[Byte]]], groupRows: Int = 1000,
      codecName: Option[String] = None): Unit = {
    val w = new StreamWriter(out, numCols, groupRows, codecName)
    rows.foreach(w.append)
    w.finish()
  }

  /** Incremental .rc writer: header on construction, rows appended one at a
    * time, a row-group flushed every `groupRows` — never more than one
    * group's cells buffered (the shape [[HiveRCSource]]'s per-task
    * OutputWriter needs; [[writeFile]] is the iterator façade over it).
    */
  final class StreamWriter(out: DataOutputStream, numCols: Int,
      groupRows: Int = 1000, codecName: Option[String] = None) {
    private val codec = codecName.map(codecFor)
    // deterministic sync marker (readers treat it as opaque 16 bytes)
    private val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-rcfile-$numCols".getBytes("UTF-8"))
    private var sinceSync = 0
    private val group = scala.collection.mutable.ArrayBuffer.empty[Seq[Array[Byte]]]

    out.write(Array[Byte]('S', 'E', 'Q', 6))
    Text.writeString(out, KeyClassName)
    Text.writeString(out, ValueClassName)
    out.writeBoolean(codec.isDefined)
    out.writeBoolean(false) // never block-compressed (RCFile.java:109)
    codecName.foreach(Text.writeString(out, _))
    locally {
      val meta = new SequenceFile.Metadata()
      meta.set(new Text(ColumnNumberKey), new Text(numCols.toString))
      meta.write(out)
    }
    out.write(sync)

    def append(row: Seq[Array[Byte]]): Unit = {
      require(row.length == numCols, s"row arity ${row.length} != $numCols")
      group += row
      if (group.length >= groupRows) flushGroup()
    }

    def finish(): Unit = {
      if (group.nonEmpty) flushGroup()
      out.flush()
    }

    private def flushGroup(): Unit = {
      // columnar pivot: per column, concatenated cell bytes + lengths
      val colLens = Array.fill(numCols)(Vector.newBuilder[Int])
      val colBytes = Array.fill(numCols)(new java.io.ByteArrayOutputStream())
      group.foreach { row =>
        var c = 0
        while (c < numCols) {
          colLens(c) += row(c).length
          colBytes(c).write(row(c))
          c += 1
        }
      }
      val keyBuf = new java.io.ByteArrayOutputStream()
      val keyOut = new DataOutputStream(keyBuf)
      WritableUtils.writeVLong(keyOut, group.length.toLong)
      val lenBufs = (0 until numCols).map { c =>
        val b = new java.io.ByteArrayOutputStream()
        encodeCellLengths(colLens(c).result(), new DataOutputStream(b))
        b.toByteArray
      }
      // on-disk column blobs: compressed per column when a codec is set
      // (RCFile.java:864-877), plain otherwise
      val blobs = (0 until numCols).map { c =>
        val plain = colBytes(c).toByteArray
        codec.map(deflate(_, plain)).getOrElse(plain)
      }
      (0 until numCols).foreach { c =>
        WritableUtils.writeVLong(keyOut, blobs(c).length.toLong) // on-disk
        WritableUtils.writeVLong(keyOut, colBytes(c).size().toLong) // plain
        WritableUtils.writeVLong(keyOut, lenBufs(c).length.toLong)
        keyOut.write(lenBufs(c))
      }
      val key = keyBuf.toByteArray
      val storedKey = codec.map(deflate(_, key)).getOrElse(key)
      val valueLen = blobs.map(_.length).sum
      if (sinceSync >= SyncInterval) {
        out.writeInt(SyncEscape)
        out.write(sync)
        sinceSync = 0
      }
      // recordLen counts the PLAIN key size even when the stored key is
      // compressed (RCFile.java:888-910)
      out.writeInt(key.length + valueLen)
      out.writeInt(key.length)
      out.writeInt(storedKey.length)
      out.write(storedKey)
      blobs.foreach(out.write)
      sinceSync += 12 + storedKey.length + valueLen
      group.clear()
    }
  }

  // ---- single-file read ----

  /** Parsed header facts a reader needs: column count, codec, the file's
    * sync marker. The header ends where the first record begins.
    */
  final case class Header(numCols: Int, codecName: Option[String],
      sync: Array[Byte])

  /** Parse the file header from the current stream position (offset 0). */
  def readHeader(in: java.io.DataInput): Header = {
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(magic.toSeq == Seq[Byte]('S', 'E', 'Q', 6),
      s"not an RCFile: magic ${magic.toSeq}")
    val kc = Text.readString(in)
    val vc = Text.readString(in)
    require(kc == KeyClassName && vc == ValueClassName,
      s"not an RCFile: key/value classes $kc / $vc")
    val compressed = in.readBoolean()
    require(!in.readBoolean(), "RCFile is never block-compressed")
    val codecName = if (compressed) Some(Text.readString(in)) else None
    val meta = new SequenceFile.Metadata()
    meta.readFields(in)
    val nc = Option(meta.get(new Text(ColumnNumberKey)))
      .map(_.toString.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"RCFile metadata missing $ColumnNumberKey"))
    val sync = new Array[Byte](16)
    in.readFully(sync)
    Header(nc, codecName, sync)
  }

  /** Parse ONE record's key + column blobs (the stream is positioned just
    * after the record-length int). Shared by the whole-file and the
    * split readers.
    *
    * `wanted`: when set, only those column indexes are materialized —
    * every other column's blob is SKIPPED on the stream without being read,
    * inflated, or sliced (the reference reader's column-pruning contract,
    * RCFileRecordReader/ColumnarStruct: a projection over a wide table
    * touches only the projected blobs). Unwanted cells come back null.
    */
  private def readRecord(in: DataInputStream, nc: Int,
      codec: Option[org.apache.hadoop.io.compress.CompressionCodec],
      recordLen: Int, wanted: Option[Array[Boolean]] = None): Seq[Array[Array[Byte]]] = {
    val keyLen = in.readInt() // PLAIN key size (even when compressed)
    val storedKeyLen = in.readInt()
    if (codec.isEmpty)
      require(storedKeyLen == keyLen, "RCFile: compressed key in plain file")
    val storedKey = new Array[Byte](storedKeyLen)
    in.readFully(storedKey)
    val key = codec.map(inflate(_, storedKey, keyLen)).getOrElse(storedKey)
    val kin = new DataInputStream(new ByteArrayInputStream(key))
    val numRows = WritableUtils.readVLong(kin).toInt
    val colDiskLen = new Array[Int](nc)
    val colPlainLen = new Array[Int](nc)
    val cellLens = new Array[Array[Int]](nc)
    (0 until nc).foreach { c =>
      colDiskLen(c) = WritableUtils.readVLong(kin).toInt
      colPlainLen(c) = WritableUtils.readVLong(kin).toInt
      val lenBufLen = WritableUtils.readVLong(kin).toInt
      val lenBuf = new Array[Byte](lenBufLen)
      kin.readFully(lenBuf)
      cellLens(c) = decodeCellLengths(
        new DataInputStream(new ByteArrayInputStream(lenBuf)), numRows)
    }
    require(recordLen == keyLen + colDiskLen.sum,
      s"RCFile: record length $recordLen != key $keyLen + values ${colDiskLen.sum}")
    val rows = Array.fill(numRows)(new Array[Array[Byte]](nc))
    (0 until nc).foreach { c =>
      // a column index past the projection mask is a file written under a
      // WIDER schema than the table now declares (ALTER TABLE REPLACE
      // COLUMNS narrows; files are never rewritten) — skipped like any
      // pruned column, matching ColumnarSerDe's ignore-extras read
      if (wanted.exists(w => c >= w.length || !w(c))) {
        // pruned column: skip the on-disk blob without reading it (a seek
        // on seekable streams — the bytes are never inflated or copied)
        var toSkip = colDiskLen(c).toLong
        while (toSkip > 0) {
          val n = in.skip(toSkip)
          if (n <= 0) { // fall back to a read when skip can't advance
            if (in.read() < 0) throw new EOFException(
              s"RCFile: EOF skipping pruned column $c")
            toSkip -= 1
          } else toSkip -= n
        }
      } else {
        val disk = new Array[Byte](colDiskLen(c))
        in.readFully(disk)
        val blob = codec.map(inflate(_, disk, colPlainLen(c))).getOrElse(disk)
        var off = 0
        var r = 0
        while (r < numRows) {
          rows(r)(c) = java.util.Arrays.copyOfRange(blob, off, off + cellLens(c)(r))
          off += cellLens(c)(r)
          r += 1
        }
        require(off == blob.length,
          s"RCFile: column $c cells sum to $off, blob is ${blob.length}")
      }
    }
    rows.toSeq
  }

  /** Parse a whole .rc file: returns (numCols, row iterator of cell bytes;
    * row-group at a time, never the whole file's cells at once beyond the
    * group).
    */
  def readFile(bytes: Array[Byte]): (Int, Iterator[Array[Array[Byte]]]) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val h = readHeader(in)
    val codec = h.codecName.map(codecFor)
    val nc = h.numCols
    val groups = new Iterator[Seq[Array[Array[Byte]]]] {
      private var nextLen = advance()
      private def advance(): Int =
        try {
          var len = in.readInt()
          while (len == SyncEscape) { // sync point: verify and continue
            val s = new Array[Byte](16)
            in.readFully(s)
            require(s.toSeq == h.sync.toSeq, "RCFile: sync marker mismatch")
            len = in.readInt()
          }
          len
        } catch { case _: EOFException => -2 }
      override def hasNext: Boolean = nextLen != -2
      override def next(): Seq[Array[Array[Byte]]] = {
        val rows = readRecord(in, nc, codec, nextLen)
        nextLen = advance()
        rows
      }
    }
    (nc, groups.flatten)
  }

  // ---- split read (sync-marker resync; the reference's splittable path,
  //      RCFileRecordReader.java / RCFile.java sync handling) ----

  /** Scan forward from `start` for the 20-byte sync pattern (escape int -1
    * + the file's 16 sync bytes) and position the stream just after it.
    * Returns the pattern's START offset, or -1 when no sync occurs at or
    * after `start`.
    */
  private[sources] def seekToSync(in: org.apache.hadoop.fs.FSDataInputStream,
      start: Long, sync: Array[Byte]): Long = {
    val pattern = Array[Byte](-1, -1, -1, -1) ++ sync
    in.seek(start)
    val chunk = 256 * 1024
    val buf = new Array[Byte](chunk + pattern.length - 1)
    var base = start // file offset of buf(0)
    var carry = 0
    while (true) {
      val n = in.read(buf, carry, chunk)
      if (n <= 0) return -1L
      val limit = carry + n
      var i = 0
      while (i <= limit - pattern.length) {
        var j = 0
        while (j < pattern.length && buf(i + j) == pattern(j)) j += 1
        if (j == pattern.length) {
          in.seek(base + i + pattern.length)
          return base + i
        }
        i += 1
      }
      val keep = math.min(pattern.length - 1, limit)
      System.arraycopy(buf, limit - keep, buf, 0, keep)
      base += limit - keep
      carry = keep
    }
    -1L // unreachable
  }

  /** Read the records of one split `[start, end)` of an .rc file, Hadoop
    * sync semantics: a split that does not begin at 0 starts at the first
    * sync at offset >= start; records are then consumed until a sync at
    * offset >= end appears (records between `end` and that sync belong to
    * THIS split — the next split skips to the same sync). Exactly-once
    * across splits, no record parsed twice.
    */
  def readSplit(fs: org.apache.hadoop.fs.FileSystem, file: Path,
      start: Long, end: Long,
      wanted: Option[Array[Boolean]] = None): Iterator[Array[Array[Byte]]] = {
    val in = fs.open(file)
    val h = readHeader(in)
    val codec = h.codecName.map(codecFor)
    val nc = h.numCols
    if (start > 0 && seekToSync(in, start, h.sync) < 0) {
      in.close()
      return Iterator.empty
    } // start == 0: already positioned at the first record (header just read)
    val groups = new Iterator[Seq[Array[Array[Byte]]]] {
      private var nextLen = advance()
      private def advance(): Int =
        try {
          var len = in.readInt()
          while (len == SyncEscape) {
            val syncStart = in.getPos - 4
            val s = new Array[Byte](16)
            in.readFully(s)
            require(s.toSeq == h.sync.toSeq, "RCFile: sync marker mismatch")
            if (syncStart >= end) return -2 // next split owns what follows
            len = in.readInt()
          }
          len
        } catch { case _: EOFException => -2 }
      override def hasNext: Boolean = {
        if (nextLen == -2) in.close()
        nextLen != -2
      }
      override def next(): Seq[Array[Array[Byte]]] = {
        val rows = readRecord(in, nc, codec, nextLen, wanted)
        nextLen = advance()
        rows
      }
    }
    groups.flatten
  }

  // ---- DataFrame integration ----

  /** Write `df` as a directory of .rc part files — one per partition, from
    * inside the executors. Cells are the LazySimpleSerDe text encoding
    * (cast-to-string, nulls as \N; pre-encode complex types with the
    * HiveText helpers, same contract as TEXTFILE).
    */
  def write(df: DataFrame, path: String): Unit = {
    val numCols = df.schema.length
    val projected = df.select(df.schema.map(f =>
      coalesce(col(f.name).cast(StringType), lit(NullSeq)).as(f.name)): _*)
    // SIZE-AWARE like Staging.stage: REBALANCE lets AQE pick the partition
    // count (= output .rc file count) from runtime statistics, so a tiny
    // result is one file instead of input-partitioning slivers and a large
    // one lands advisory-sized parts.
    val asText = projected.hint("REBALANCE")
    val dir = new Path(path)
    val hconf = new org.apache.hadoop.conf.Configuration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val fs = dir.getFileSystem(hconf)
    // OVERWRITE semantics (ADVICE r9): a rerun that produces fewer
    // partitions must not leave stale part files from the previous run —
    // read()'s *.rc glob would return their rows as duplicates
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    asText.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      // executor-side: serialize this partition's rows into part-<pid>.rc
      val part = new Path(path, f"part-$pid%05d.rc")
      val conf = new org.apache.hadoop.conf.Configuration()
      val out = new DataOutputStream(part.getFileSystem(conf).create(part, true))
      try writeFile(out, numCols, rows.map { ir =>
        (0 until numCols).map(i => ir.getUTF8String(i).getBytes.clone())
      })
      finally out.close()
      Iterator.single(pid)
    }.count() // materialize the write job
  }

  /** Read a directory of .rc files into `schema` (names + types drive the
    * cast, exactly like [[HiveText.read]]). SPLIT-AWARE (r10, VERDICT r9
    * #3): each file is divided into byte ranges of
    * `spark.sql.files.maxPartitionBytes` (override:
    * `graft.rcfile.splitbytes`) and every range reads in its own task via
    * sync-marker resync — a 10 GB reference-produced .rc file reads with
    * cluster parallelism instead of one task, the same contract as the
    * reference's RCFileRecordReader. Only file NAMES and sizes are listed
    * on the driver; all bytes are read executor-side.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val nCols = schema.length
    val splitBytes = spark.conf.getOption("graft.rcfile.splitbytes")
      .map(_.toLong)
      .getOrElse(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        .stripSuffix("b").toLong)
    require(splitBytes > 0, s"split size must be positive: $splitBytes")
    val glob = new Path(path + "/*.rc")
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val fs = glob.getFileSystem(hconf)
    val files = fs.globStatus(glob).toSeq.filter(_.isFile)
    val splits = files.flatMap { st =>
      val len = st.getLen
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      (0L until n).map { i =>
        (st.getPath.toString, i * splitBytes, math.min(len, (i + 1) * splitBytes))
      }
    }
    val rowsRdd = spark.sparkContext
      .parallelize(splits, math.max(1, splits.size))
      .flatMap { case (file, start, end) =>
        val p = new Path(file)
        val taskFs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val rows = readSplit(taskFs, p, start, end)
        rows.map { cells =>
          require(cells.length == nCols,
            s"RCFile has ${cells.length} columns, schema expects $nCols")
          Row.fromSeq(cells.toSeq.map { b =>
            val s = new String(b, "UTF-8")
            if (s == NullSeq) null else s
          })
        }
      }
    val asStrings = StructType(schema.map(f => StructField(f.name, StringType,
      nullable = true)))
    spark.createDataFrame(rowsRdd, asStrings)
      .select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }
}
