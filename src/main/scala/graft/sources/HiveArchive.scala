package graft.sources

import java.net.{URLDecoder, URLEncoder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop archives (closes the §7.5 HAR drop): `ALTER TABLE .. ARCHIVE
  * PARTITION` packs a partition's many small files into ONE Hadoop
  * archive and repoints the partition at it — the reference's small-file
  * remedy for aging partitions (ql/exec/ArchiveWork + DDLTask
  * archive/unarchive; `TOK_ALTERTABLE_ARCHIVE`,
  * SemanticAnalyzerFactory.java:162-163).
  *
  * The archive written here is a REAL version-3 HAR — `part-0` payload +
  * `_index` + `_masterindex` in the exact layout Hadoop's own
  * `HarFileSystem` parses (format derived from HarFileSystem.HarStatus /
  * HarMetaData: file lines `encName file partName start len encProps`,
  * dir lines `encName dir encProps 0 0 encChild...`, master index
  * `3\n<startHash> <endHash> <indexBegin> <indexEnd>`) — so after
  * archiving, reads flow through the stock `har://` filesystem with NO
  * custom read path: the partition's location becomes
  * `har:<fs-less archive path>` exactly like the reference's
  * setArchived, and Spark's parquet scan lists/opens through
  * HarFileSystem transparently.
  *
  * Scale posture: archiving is a per-partition METADATA operation over
  * aged data — payload bytes are streamed once, driver-side, like the
  * reference's single archive job per partition; query plans over
  * archived partitions keep full scan parallelism (HarFileSystem serves
  * ranged reads into part-0, so one archived file = one input split per
  * row-group exactly as before — splittability comes from parquet, not
  * the container).
  */
object HiveArchive {

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** Pack every non-hidden file directly under `srcDir` into
    * `srcDir/data.har` (HadoopArchives' default archive name in the
    * reference's partition flow), delete the originals, and return the
    * `har://`-scheme URI that serves the same file set.
    */
  def archive(spark: SparkSession, srcDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val harDir = new Path(src, "data.har")
    // DDLTask.archive's pre-check (clientnegative archive1.q)
    require(!fs.exists(harDir), "Specified partition is already archived")
    val files = fs.listStatus(src).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"nothing to archive under $srcDir")
    fs.mkdirs(harDir)

    // ---- part-0: payloads concatenated, offsets recorded
    val part = fs.create(new Path(harDir, "part-0"))
    val offsets = Seq.newBuilder[(String, Long, Long)] // (name, start, len)
    var pos = 0L
    val buf = new Array[Byte](1 << 20)
    files.foreach { st =>
      val in = fs.open(st.getPath)
      var n = in.read(buf)
      while (n >= 0) { part.write(buf, 0, n); n = in.read(buf) }
      in.close()
      offsets += ((st.getPath.getName, pos, st.getLen))
      pos += st.getLen
    }
    part.close()

    // ---- _index (version-3 lines; props = "modtime perm owner group",
    //      HarStatus needs >=4 tokens with a numeric [0])
    val now = System.currentTimeMillis()
    val props = enc(s"$now 420 graft graft")
    val lines = Seq.newBuilder[String]
    val children = offsets.result().map(_._1)
    lines += s"${enc("/")} dir $props 0 0 ${children.map(enc).mkString(" ")}"
    offsets.result().foreach { case (name, start, len) =>
      lines += s"${enc("/" + name)} file part-0 $start $len $props"
    }
    val indexBytes = (lines.result().mkString("\n") + "\n").getBytes("UTF-8")
    val idx = fs.create(new Path(harDir, "_index"))
    idx.write(indexBytes); idx.close()

    // ---- _masterindex: version line + one store covering the whole index
    val master = fs.create(new Path(harDir, "_masterindex"))
    master.write(s"3\n0 ${Int.MaxValue} 0 ${indexBytes.length}\n".getBytes("UTF-8"))
    master.close()

    // the reference's archive MOVES the originals into the har
    files.foreach(st => fs.delete(st.getPath, false))
    harUri(fs, harDir)
  }

  /** The two `har:` URI forms decodeHarURI accepts: authority
    * `<scheme>-<host>` names the underlying filesystem explicitly; a
    * null authority (`har:///path`) means the default filesystem — the
    * only valid spelling when the underlying URI has no host (local fs),
    * since `<scheme>-` with an empty host does not reconstruct.
    */
  def harUri(fs: FileSystem, harDir: Path): String = {
    val u = fs.makeQualified(harDir).toUri
    Option(u.getHost).filter(_.nonEmpty) match {
      case Some(h) => s"har://${u.getScheme}-$h${u.getPath}"
      case None => s"har://${u.getPath}"
    }
  }

  /** Reverse of [[archive]]: extract every file back beside the har,
    * delete the archive (DDLTask unarchive).
    */
  def unarchive(spark: SparkSession, srcDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val harDir = new Path(src, "data.har")
    require(fs.exists(harDir), s"$harDir does not exist — partition not archived")
    val idx = fs.open(new Path(harDir, "_index"))
    val content = scala.io.Source.fromInputStream(idx, "UTF-8").mkString
    idx.close()
    val part = fs.open(new Path(harDir, "part-0"))
    content.linesIterator.filter(_.nonEmpty).foreach { line =>
      val sp = line.split(" ")
      if (sp(1) == "file") {
        val name = dec(sp(0)).stripPrefix("/")
        val (start, len) = (sp(3).toLong, sp(4).toLong)
        val out = fs.create(new Path(src, name))
        val buf = new Array[Byte](1 << 20)
        part.seek(start)
        var remaining = len
        while (remaining > 0) {
          val n = part.read(buf, 0, math.min(buf.length, remaining).toInt)
          require(n > 0, s"truncated har payload for $name")
          out.write(buf, 0, n)
          remaining -= n
        }
        out.close()
      }
    }
    part.close()
    fs.delete(harDir, true)
  }

  private def partitionPath(spark: SparkSession, table: String,
      spec: Seq[(String, String)]): (String, String) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cat = spark.sessionState.catalog.getTableMetadata(ident)
    val loc = cat.location.getPath
    val sub = spec.map { case (k, v) => s"$k=$v" }.mkString("/")
    (loc, s"$loc/$sub")
  }

  /** `ALTER TABLE t ARCHIVE PARTITION (spec)`: pack the partition dir,
    * repoint the partition at the har (the reference's setArchived —
    * reads flow through HarFileSystem with no further engine involvement).
    */
  def archivePartition(spark: SparkSession, table: String,
      spec: Seq[(String, String)]): Unit = {
    val (_, dir) = partitionPath(spark, table, spec)
    val uri = archive(spark, dir)
    val specSql = spec.map { case (k, v) => s"$k='$v'" }.mkString(", ")
    graft.HiveQl.native(spark, s"ALTER TABLE $table PARTITION ($specSql) SET LOCATION '$uri'")
  }

  /** `ALTER TABLE t UNARCHIVE PARTITION (spec)`: extract + repoint back. */
  def unarchivePartition(spark: SparkSession, table: String,
      spec: Seq[(String, String)]): Unit = {
    val (_, dir) = partitionPath(spark, table, spec)
    unarchive(spark, dir)
    val specSql = spec.map { case (k, v) => s"$k='$v'" }.mkString(", ")
    graft.HiveQl.native(spark, s"ALTER TABLE $table PARTITION ($specSql) SET LOCATION '$dir'")
  }
}
