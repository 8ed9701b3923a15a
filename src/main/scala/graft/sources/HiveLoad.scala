package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `LOAD DATA INPATH` (ref ql/parse/LoadSemanticAnalyzer.java:1, dispatched
  * from SemanticAnalyzerFactory.java:119): land a Hive-delimited text file in
  * a catalog table. The reference moves files into the table's location and
  * trusts the SerDe at read time; on Spark the equivalent contract is
  * parse-with-the-table's-schema + insertInto, which also validates rows at
  * load instead of deferring corruption to the first query.
  *
  * Nested columns arrive text-encoded with LazySimpleSerDe's one-level
  * delimiters ( for collections,  for map keys — HiveText) and are
  * decoded to the table's array/map types before the insert.
  */
object HiveLoad {

  def loadData(spark: SparkSession, path: String, table: String,
      overwrite: Boolean,
      part: Seq[(String, Option[String])] = Nil,
      local: Boolean = true): Unit = {
    // LOAD ... PARTITION (k=v): Hive's MoveTask targets the partition
    // DIRECTORY and loadPartition registers it in the metastore
    // (Hive.java loadPartition). All values must be static for a LOAD.
    val partSpec: Seq[(String, String)] = part.map {
      case (k, Some(v)) => k -> v
      case (k, None) => throw new IllegalArgumentException(
        s"LOAD DATA partition spec requires a value for '$k'")
    }
    // when the target is one of the graft format tables, use the
    // reference's ACTUAL semantic — move the file into the table location
    // and trust the format at read time (LoadSemanticAnalyzer plans a
    // MoveTask, never a parse). That is what lets a reference-produced
    // .rc/.seq/text file land verbatim (smb_mapjoin_3.q's LOAD of
    // smbbucket_1.rc) — a parse would need the file to be hive TEXT.
    val provider =
      try {
        val parts = table.split('.')
        val ti =
          if (parts.length > 1)
            org.apache.spark.sql.catalyst.TableIdentifier(parts.last, Some(parts(parts.length - 2)))
          else org.apache.spark.sql.catalyst.TableIdentifier(table)
        spark.sessionState.catalog.getTableMetadata(ti)
          .provider.getOrElse("")
      } catch { case _: Exception => "" }
    if (provider.startsWith("graft.sources.Hive")) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table.split('.').last,
          table.split('.').dropRight(1).lastOption))
      // LoadSemanticAnalyzer: a partitioned destination requires the spec
      // (clientnegative load_part_nospec.q / nopart_load.q)
      if (meta.partitionColumnNames.nonEmpty && partSpec.isEmpty)
        throw new IllegalArgumentException(
          "Need to specify partition columns because the destination " +
            "table is partitioned")
      // the spec must value EVERY partition column (load_wrong_noof_part.q)
      if (meta.partitionColumnNames.nonEmpty &&
          partSpec.map(_._1.toLowerCase).toSet !=
            meta.partitionColumnNames.map(_.toLowerCase).toSet)
        throw new IllegalArgumentException(
          "Need to specify partition columns because the destination " +
            "table is partitioned (partition spec does not match " +
            s"${meta.partitionColumnNames.mkString(",")})")
      val tableLoc = new org.apache.hadoop.fs.Path(meta.location)
      // partition spec -> the partition's directory under the table root
      val loc = partSpec.foldLeft(tableLoc) { case (p, (k, v)) =>
        new org.apache.hadoop.fs.Path(p, s"$k=$v")
      }
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src = new org.apache.hadoop.fs.Path(path)
      val srcFs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // glob expansion (LoadSemanticAnalyzer.matchFilesOrDir — load_fs.q
      // loads 'kv*.txt' and a 'load2_*' directory glob): a matched
      // DIRECTORY contributes its child files
      val matched = Option(srcFs.globStatus(src)).map(_.toSeq).getOrElse(Nil)
      if (matched.isEmpty) throw new IllegalArgumentException(
        s"LOAD DATA: No files matching path $path")
      val srcFiles = matched.flatMap { st =>
        if (st.isDirectory)
          srcFs.listStatus(st.getPath).filter(_.isFile).map(_.getPath).toSeq
        else Seq(st.getPath)
      }
      // LoadSemanticAnalyzer's file-format validation (HiveFileFormatUtils
      // .checkInputFormat, gated on hive.fileformat.check — default TRUE,
      // disable_file_format_check.q turns it off): a SEQUENCEFILE target
      // requires the SEQ container magic and a TEXTFILE target rejects any
      // SEQ-container file (both SequenceFile AND Hive-0.8 RCFile open with
      // 'SEQ'; the checker distinguishes them by the header's key class).
      if (spark.conf.get("hive.fileformat.check", "true").toBoolean)
        srcFiles.foreach { f =>
          val header = new Array[Byte](200)
          val in = srcFs.open(f)
          val n = try in.read(header) finally in.close()
          val isSeqContainer = n >= 3 &&
            header(0) == 'S' && header(1) == 'E' && header(2) == 'Q'
          val headerStr = new String(header, 0, math.max(n, 0), "ISO-8859-1")
          val mismatch = provider match {
            case "graft.sources.HiveSeqSource" =>
              !isSeqContainer || headerStr.contains("RCFile")
            case "graft.sources.HiveTextSource" => isSeqContainer
            case _ => false
          }
          if (mismatch) throw new IllegalArgumentException(
            "Wrong file format. Please check the file's format.")
        }
      if (overwrite && fs.exists(loc))
        fs.listStatus(loc).filterNot(_.getPath.getName.startsWith("_"))
          .foreach(st => fs.delete(st.getPath, true))
      fs.mkdirs(loc)
      // repeated LOAD INTO of a same-named file appends under a fresh name
      // (Warehouse.mvFile's name_copy_N), never overwrites the prior copy.
      // Split at the LAST dot like the reference (Hive.java:1822-1828 uses
      // the filename's final extension): 'a.b.txt' → 'a.b_copy_1.txt',
      // not 'a_copy_1.b.txt' (ADVICE r11)
      var dest: org.apache.hadoop.fs.Path = null
      srcFiles.foreach { f =>
        val (base, ext) = f.getName.lastIndexOf('.') match {
          case -1 => (f.getName, "")
          case i => (f.getName.substring(0, i), f.getName.substring(i))
        }
        dest = new org.apache.hadoop.fs.Path(loc, f.getName)
        var copyN = 0
        while (fs.exists(dest)) {
          copyN += 1
          dest = new org.apache.hadoop.fs.Path(loc, s"${base}_copy_$copyN$ext")
        }
        // LOCAL loads COPY (the client-side file survives); non-LOCAL
        // loads MOVE — the reference's MoveTask renames within the
        // warehouse FS, emptying the source dir (load_fs.q re-describes
        // the donor table as 0 files after the glob load)
        org.apache.hadoop.fs.FileUtil.copy(srcFs, f, fs, dest,
          !local /* deleteSource */, spark.sparkContext.hadoopConfiguration)
      }
      // Foreign files carry no Spark bucket ids in their names, and Spark's
      // bucketed scan resolves bucket membership FROM the file name — a
      // bucketed catalog spec over loaded files makes every bucketed read
      // (SMB sort-merge, bucket pruning) silently skip them (smb_mapjoin_1
      // full-outer read the tables as EMPTY). The reference trusts loaded
      // buckets blindly (it cannot validate either; Hive.java loadTable);
      // the safe Spark translation is to demote the table to plain scans
      // while stashing the declared layout for the surfaces that still
      // need it (TABLESAMPLE bucket resolution, DESCRIBE).
      if (meta.bucketSpec.isDefined && srcFiles.exists(f =>
          "_\\d{5}[._]".r.findFirstIn(f.getName).isEmpty)) {
        val bs = meta.bucketSpec.get
        spark.sessionState.catalog.alterTable(meta.copy(
          bucketSpec = None,
          properties = meta.properties ++ Map(
            "graft.hive.bucket.cols" -> bs.bucketColumnNames.mkString(","),
            "graft.hive.bucket.sort" -> bs.sortColumnNames.mkString(","),
            "graft.hive.bucket.n" -> bs.numBuckets.toString)))
      }
      if (partSpec.nonEmpty) {
        val spec = partSpec.map { case (k, v) => s"$k='$v'" }.mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION ($spec)")
      }
      spark.catalog.refreshTable(table)
      return
    }
    val partCols = partSpec.map(_._1.toLowerCase).toSet
    val target = StructType(spark.table(table).schema
      .filterNot(f => partCols.contains(f.name.toLowerCase)))
    // read nested columns as raw text, then decode to the declared type
    // (arbitrary nesting depth via LazySimpleSerDe's 8-level separators)
    val flat = StructType(target.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          f.copy(dataType = StringType)
        case _ => f
      }
    })
    val decoded = target.foldLeft(HiveText.read(spark, path, flat)) { (df, f) =>
      f.dataType match {
        case dt @ (_: ArrayType | _: MapType | _: StructType) =>
          df.withColumn(f.name, HiveText.decodeNested(col(f.name), dt))
        case _ => df
      }
    }
    if (partSpec.nonEmpty) {
      // static-partition INSERT touches ONLY the named partition on
      // overwrite (Hive loadPartition semantics)
      val tmp = "graft_load_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      decoded.createOrReplaceTempView(tmp)
      val spec = partSpec.map { case (k, v) => s"$k='$v'" }.mkString(", ")
      val verb = if (overwrite) "OVERWRITE TABLE" else "INTO TABLE"
      try spark.sql(s"INSERT $verb $table PARTITION ($spec) SELECT * FROM $tmp")
      finally spark.catalog.dropTempView(tmp)
    } else decoded.write
      .mode(if (overwrite) "overwrite" else "append")
      .insertInto(table)
  }
}

/** SequenceFile source (ref QTestUtil.java:476-477 creates
  * `src_sequencefile` via `SequenceFileInputFormat`/`OutputFormat`): rows are
  * (Text key, Text value) records whose value carries the Hive-delimited
  * columns. Read through the Hadoop RDD API — the one place the engine drops
  * below DataFrames, because Spark has no DataFrame SequenceFile source —
  * then parsed by the same CSV options HiveText uses, so text/sequencefile
  * fixtures stay byte-compatible.
  */
object HiveSequenceFile {

  /** Raw (key, value) pairs. */
  def readKV(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.sequenceFile[String, String](path).toDF("key", "value")
  }

  /** Values parsed into `schema` with LazySimpleSerDe delimiters. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readKV(spark, path)
      .select(from_csv(col("value"), schema, Map(
        "sep" -> HiveText.FieldDelim,
        "nullValue" -> HiveText.NullSequence,
        "emptyValue" -> "",
        "quote" -> HiveText.NoQuote,
        "escape" -> HiveText.NoQuote)).as("r"))
      .select(col("r.*"))

  /** Test-fixture writer (emits the (Text, Text) layout [[readKV]]
    * consumes).
    */
  def writeKV(df: DataFrame, path: String): Unit =
    df.rdd.map(r => (r.getString(0), r.getString(1))).saveAsSequenceFile(path)

  /** PRODUCTION writer (closes the §7.5 "SequenceFile production writer"
    * drop, r9): any DataFrame → SequenceFile in the reference's exact table
    * layout — an EMPTY BytesWritable key and the LazySimpleSerDe-delimited
    * row as the Text value (ref: ql/io/HiveSequenceFileOutputFormat
    * .java:40-43 writes `EMPTY_KEY = new BytesWritable()` per record).
    * Distributed: the encode is a codegen'd projection and the write runs
    * saveAsNewAPIHadoopFile from the executors. Each column is \N-coalesced
    * BEFORE concat_ws, which would otherwise silently skip nulls.
    */
  def write(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.io.{BytesWritable, Text => HText}
    // OVERWRITE semantics (ADVICE r9): saveAsNewAPIHadoopFile refuses an
    // existing dir, so without this every rerun of the writer throws
    // FileAlreadyExistsException unless the caller remembers to delete
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) fs.delete(target, true)
    val cells = df.schema.map(f =>
      coalesce(col(f.name).cast("string"), lit(HiveText.NullSequence)))
    val encoded = df.select(concat_ws(HiveText.FieldDelim, cells: _*).as("v"))
    // SIZE-AWARE like Staging.stage / HiveRCFile.write: AQE picks the
    // output file count from runtime stats (REBALANCE), not from whatever
    // partitioning the input happened to have
    encoded.hint("REBALANCE")
      .rdd.map(r => (new BytesWritable(), new HText(r.getString(0))))
      .saveAsNewAPIHadoopFile(path, classOf[BytesWritable], classOf[HText],
        classOf[org.apache.hadoop.mapreduce.lib.output
          .SequenceFileOutputFormat[BytesWritable, HText]])
  }

  /** As [[read]], but key-agnostic: accepts files with ANY key class (the
    * reference's table files carry BytesWritable keys, the test fixtures
    * Text) — the InputFormat instantiates whatever the file header names,
    * and only the Text value is consumed.
    */
  def readTable(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.hadoop.io.{Text => HText, Writable}
    import spark.implicits._
    val values = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[org.apache.hadoop.mapreduce.lib.input
        .SequenceFileInputFormat[Writable, HText]],
      classOf[Writable], classOf[HText])
      .map(_._2.toString).toDF("value")
    values
      .select(from_csv(col("value"), schema, Map(
        "sep" -> HiveText.FieldDelim,
        "nullValue" -> HiveText.NullSequence,
        "emptyValue" -> "",
        "quote" -> HiveText.NoQuote,
        "escape" -> HiveText.NoQuote)).as("r"))
      .select(col("r.*"))
  }
}
