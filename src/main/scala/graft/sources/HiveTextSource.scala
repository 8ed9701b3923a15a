package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `hivetext` — a real FileFormat with LazySimpleSerDe's exact row codec
  * (ref serde2/lazy/LazySimpleSerDe.java:62 and the Lazy* field parsers):
  *  field delimiter, `\N` null sequence, NO quoting or escaping, and —
  * the part Spark's CSV source cannot express — an EMPTY field is the empty
  * string, not null (LazyString returns ""; only the `\N` sequence is null).
  * `CREATE TABLE ... STORED AS TEXTFILE` resolves here (HiveQl rewrite), so
  * a dest table's files byte-match what the reference's TEXTFILE tables
  * hold AND round-trip '' faithfully.
  *
  * Scale posture: line-based and uncompressed-splittable — a 10 GB table
  * file reads as many tasks (Hadoop's own LineRecordReader supplies the
  * split-boundary semantics: a split owns every line that STARTS inside
  * it). Malformed numerics decode to null, Hive's UDFToX behavior (q88).
  * Complex types are declared unsupported at planning time — the reference
  * encodes them with separator levels 2..8, surfaced through
  * [[HiveText.encodeNested]]/[[HiveText.decodeNested]] over STRING columns.
  */
class HiveTextSource extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "hivetext"
  override def toString: String = "HiveText"

  override def inferSchema(sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = None // schema is DDL-given

  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    !path.getName.matches(""".*\.(gz|bz2|deflate|snappy|lz4|zst)$""")

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         DoubleType | FloatType | BooleanType | DateType | TimestampType |
         BinaryType => true
    case _: DecimalType => true
    // LazySimpleSerDe's level separators (\x02, \x03, ... — 8 deep):
    // input_dynamicserde.q / input_lazyserde.q complex columns
    case ArrayType(et, _) => supportDataType(et)
    case MapType(kt, vt, _) => supportDataType(kt) && supportDataType(vt)
    case StructType(fs) => fs.forall(f => supportDataType(f.dataType))
    case _ => false
  }

  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    // ROW FORMAT DELIMITED FIELDS TERMINATED BY '<d>' (LazySimpleSerDe's
    // configurable separator — ctas.q's comma tables); default ^A
    val sep = options.getOrElse("sep", HiveText.FieldDelim)
    val esc = options.get("esc").filter(_.nonEmpty).map(_.charAt(0))
    val nullSeq = options.getOrElse("nullvalue", HiveText.NullSequence)
    // compressed writes (HiveIgnoreKeyTextOutputFormat.java honors
    // mapred.output.compress/.compression.codec): a `compression` write
    // option, or the reference's conf names — `SET mapred.output.compress
    // =true` reaches the job conf through Spark's SQL-conf→Hadoop-conf
    // copy. Reads need nothing: LineRecordReader resolves the codec from
    // the extension, and isSplitable already falls to whole-file for it.
    val codec = HiveSeqSource.writeCodec(job.getConfiguration, options)
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        ".txt" + codec.map(c => org.apache.hadoop.util.ReflectionUtils
          .newInstance(c, context.getConfiguration).getDefaultExtension)
          .getOrElse("")
      override def newInstance(path: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new HiveTextOutputWriter(path, dataSchema, context, sep, nullSeq, codec, esc)
    }
  }

  override def buildReader(sparkSession: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // close over plain values only (the returned function ships to
    // executors; a fresh Configuration() there is the HiveRCFile posture)
    val fieldIdx = requiredSchema.fields.map(f => dataSchema.fieldIndex(f.name))
    val fieldTypes = requiredSchema.fields.map(_.dataType)
    val nRequired = fieldIdx.length
    val sep = options.getOrElse("sep", HiveText.FieldDelim)
    val esc = options.get("esc").filter(_.nonEmpty).map(_.charAt(0))
    val nullSeq = options.getOrElse("nullvalue", HiveText.NullSequence)
    val coll = options.get("coll").filter(_.nonEmpty)
    // 'serialization.last.column.takes.rest' (LazySimpleSerDe): the LAST
    // declared column absorbs the remainder of the line, separators and
    // all (binary_output_format.q) — a limit-N split instead of a full one
    val lastColRest = options.get("lastcol").exists(_.equalsIgnoreCase("true"))
    val nData = dataSchema.fields.length
    // columns declared uniontype in the DDL (rewritten to the tag-struct
    // encoding): tagged parse instead of positional struct parse
    val unionIdx = options.get("unioncols").map(_.split(',')
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val isUnion = requiredSchema.fields.map(f =>
      unionIdx.contains(f.name.toLowerCase))

    (file: PartitionedFile) => {
      val split = new org.apache.hadoop.mapreduce.lib.input.FileSplit(
        file.toPath, file.start, file.length, Array.empty[String])
      val reader = new org.apache.hadoop.mapreduce.lib.input.LineRecordReader()
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        SharedConf.get, new org.apache.hadoop.mapreduce.TaskAttemptID())
      reader.initialize(split, ctx)
      new Iterator[InternalRow] {
        private var ready = false
        private var done = false
        private def advance(): Unit =
          if (!ready && !done) {
            if (reader.nextKeyValue()) ready = true
            else { done = true; reader.close() }
          }
        override def hasNext: Boolean = { advance(); ready }
        private val emptyRow = new GenericInternalRow(0)
        override def next(): InternalRow = {
          advance()
          if (!ready) throw new NoSuchElementException
          ready = false
          // COUNT(*)-style scans require no columns — a row per line,
          // no toString, no field split (the top per-row cost on counts)
          if (nRequired == 0) return emptyRow
          val line = reader.getCurrentValue.toString
          // -1: trailing empty fields are real empty strings
          val parts = esc match {
            case Some(e) => HiveTextSource.escapedSplit(line, sep, e)
            case None => HiveTextSource.fastSplit(line, sep,
              if (lastColRest) nData else -1)
          }
          val row = new GenericInternalRow(nRequired)
          var i = 0
          while (i < nRequired) {
            val src = fieldIdx(i)
            // a short row leaves trailing columns null (LazyStruct:
            // "missing fields are null")
            val raw = if (src < parts.length) parts(src) else null
            // the null sequence is checked against the RAW bytes (Lazy-
            // SimpleSerDe writes \N unescaped); escapes strip AFTERWARD
            row.update(i,
              if (raw == null || raw == nullSeq) null
              else {
                val cell = esc.fold(raw)(e => HiveTextSource.unescapeCell(raw, e))
                fieldTypes(i) match {
                  case st: StructType if isUnion(i) =>
                    HiveTextSource.decodeUnion(cell, st)
                  case dt => HiveTextSource.decode(cell, dt, coll = coll)
                }
              })
            i += 1
          }
          row
        }
      }
    }
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[HiveTextSource]
  override def hashCode(): Int = getClass.hashCode()
}

object HiveTextSource {

  /** Regex-free field split for the per-ROW hot path. Every text-family
    * reader used to call `line.split(Pattern.quote(sep), limit)` — which
    * COMPILES A REGEX PER ROW (Pattern.quote's "\Qx\E" defeats
    * String.split's single-char fast path), the top per-row cost in the
    * 5M-row q922 readback profile. Single-char separators (the
    * LazySimpleSerDe ladder and virtually every DDL delimiter) take a
    * plain indexOf walk; multi-char separators keep the regex but compile
    * it ONCE per call instead of relying on split's internal cache.
    * Semantics match `String.split(quoted, limit)` for limit != 0 exactly:
    * limit < 0 keeps all trailing empty fields; limit = n caps at n parts
    * with the remainder (separators included) in the last.
    */
  def fastSplit(line: String, sep: String, limit: Int): Array[String] =
    if (sep.length == 1) {
      val c = sep.charAt(0)
      var n = 1
      var i = line.indexOf(c)
      while (i >= 0 && (limit <= 0 || n < limit)) {
        n += 1
        i = line.indexOf(c, i + 1)
      }
      val out = new Array[String](n)
      var start = 0
      var k = 0
      while (k < n - 1) {
        val e = line.indexOf(c, start)
        out(k) = line.substring(start, e)
        start = e + 1
        k += 1
      }
      out(n - 1) = line.substring(start)
      out
    } else
      java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(sep))
        .split(line, limit)

  /** One field's text → Catalyst value; malformed → null (the Lazy*
    * parsers catch NumberFormatException — Hive's UDFToX contract).
    */
  /** `coll` overrides the LEVEL-1 (collection items) separator only —
    * `COLLECTION ITEMS TERMINATED BY '<c>'` with a non-default delimiter
    * (create_struct_table.q's '\001'); deeper levels keep the ladder.
    */
  def decode(raw: String, dt: DataType, level: Int = 1,
      coll: Option[String] = None): Any =
    try dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => java.lang.Integer.valueOf(raw.trim)
      case LongType => java.lang.Long.valueOf(raw.trim)
      case ShortType => java.lang.Short.valueOf(raw.trim)
      case ByteType => java.lang.Byte.valueOf(raw.trim)
      case DoubleType => java.lang.Double.valueOf(raw.trim)
      case FloatType => java.lang.Float.valueOf(raw.trim)
      case BooleanType => // LazyBoolean: "true"/"false" else null
        if (raw.equalsIgnoreCase("true")) java.lang.Boolean.TRUE
        else if (raw.equalsIgnoreCase("false")) java.lang.Boolean.FALSE
        else null
      case d: DecimalType =>
        val bd = Decimal(new java.math.BigDecimal(raw.trim))
        if (bd.changePrecision(d.precision, d.scale)) bd else null
      case DateType =>
        DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(raw.trim))
      case TimestampType =>
        DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf(raw.trim))
      case BinaryType => raw.getBytes("UTF-8")
      case ArrayType(et, _) =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          fastSplit(raw, sepAt(level, coll), -1)
            .map(e => if (e == HiveText.NullSequence) null
                      else decode(e, et, level + 1, coll)))
      case MapType(kt, vt, _) =>
        if (raw.isEmpty)
          org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            Array.empty[Any], Array.empty[Any])
        else {
          val entries = fastSplit(raw, sepAt(level, coll), -1)
          val kvs = entries.map { e =>
            val kv = fastSplit(e, levelSep(level + 1), 2)
            val k = if (kv(0) == HiveText.NullSequence) null
                    else decode(kv(0), kt, level + 2, coll)
            val v = if (kv.length < 2 || kv(1) == HiveText.NullSequence) null
                    else decode(kv(1), vt, level + 2, coll)
            (k, v)
          }
          org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            kvs.map(_._1), kvs.map(_._2))
        }
      case StructType(fields) =>
        val parts = fastSplit(raw, sepAt(level, coll), -1)
        val r = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          val p = if (i < parts.length) parts(i) else null
          r.update(i,
            if (p == null || p == HiveText.NullSequence) null
            else decode(p, fields(i).dataType, level + 1, coll))
          i += 1
        }
        r
      case other => throw new UnsupportedOperationException(
        s"hivetext does not support $other")
    } catch {
      case _: NumberFormatException => null
      case _: IllegalArgumentException => null
    }

  /** LazySimpleSerDe separator ladder: level 1 = \x02, level 2 = \x03, ...
    * (the level-0 field separator is the configurable `sep` option).
    */
  private def levelSep(level: Int): String = (level + 1).toChar.toString

  private def sepAt(level: Int, coll: Option[String]): String =
    if (level == 1) coll.getOrElse(levelSep(1)) else levelSep(level)

  /** Hive uniontype text (`tag<sep>value` — LazyUnion): the engine encodes
    * a union as struct<tag:int, field0..fieldN> (the create_union shape),
    * and the TEXT parse places the value in field(tag), not positionally.
    * Only the tagged field is non-null; a malformed tag yields null.
    */
  def decodeUnion(raw: String, st: StructType, level: Int = 1): Any = {
    val kv = fastSplit(raw, levelSep(level), 2)
    val r = new GenericInternalRow(st.length)
    val tag = try kv(0).trim.toInt catch {
      case _: NumberFormatException => return null }
    r.update(0, tag)
    if (tag + 1 < st.length && kv.length > 1 && kv(1) != HiveText.NullSequence)
      r.update(tag + 1, decode(kv(1), st.fields(tag + 1).dataType, level + 1))
    r
  }

  /** One Catalyst value → field text (LazySimpleSerDe.serialize: the
    * primitive's Java toString; booleans lowercase; null handled by the
    * caller as the \N sequence).
    */
  def encode(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case StringType => row.getUTF8String(i).toString
    case IntegerType => row.getInt(i).toString
    case LongType => row.getLong(i).toString
    case ShortType => row.getShort(i).toString
    case ByteType => row.getByte(i).toString
    case DoubleType => row.getDouble(i).toString
    case FloatType => row.getFloat(i).toString
    case BooleanType => row.getBoolean(i).toString
    case d: DecimalType =>
      row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
    case DateType => DateTimeUtils.toJavaDate(row.getInt(i)).toString
    case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i)).toString
    case BinaryType => new String(row.getBinary(i), "UTF-8")
    case _: ArrayType | _: MapType | _: StructType =>
      encodeValue(row.get(i, dt), dt, 1)
    case other => throw new UnsupportedOperationException(
      s"hivetext does not support $other")
  }

  /** Catalyst value → text at the given separator level (LazySimpleSerDe
    * .serialize's recursive walk; nested nulls as \N).
    */
  private def encodeValue(v: Any, dt: DataType, level: Int): String =
    if (v == null) HiveText.NullSequence
    else dt match {
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until a.numElements()).map { j =>
          encodeValue(if (a.isNullAt(j)) null else a.get(j, et), et, level + 1)
        }.mkString(levelSep(level))
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { j =>
          encodeValue(if (ks.isNullAt(j)) null else ks.get(j, kt), kt, level + 2) +
            levelSep(level + 1) +
            encodeValue(if (vs.isNullAt(j)) null else vs.get(j, vt), vt, level + 2)
        }.mkString(levelSep(level))
      case StructType(fields) =>
        val r = v.asInstanceOf[InternalRow]
        fields.indices.map { j =>
          encodeValue(if (r.isNullAt(j)) null else r.get(j, fields(j).dataType),
            fields(j).dataType, level + 1)
        }.mkString(levelSep(level))
      case StringType => v.asInstanceOf[UTF8String].toString
      case _: DecimalType =>
        v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
      case DateType =>
        DateTimeUtils.toJavaDate(v.asInstanceOf[Int]).toString
      case TimestampType =>
        DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long]).toString
      case BinaryType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
      case _ => v.toString
    }

  /** LazySimpleSerDe escape semantics (ESCAPED BY, create_escape.q):
    * serialize prefixes the escape char before any in-field separator or
    * escape byte; deserialize splits only at UNESCAPED separators and
    * strips the escapes.
    */
  def escapeCell(cell: String, sep: String, esc: Char): String = {
    val sepC = sep.charAt(0)
    if (cell.indexOf(sepC) < 0 && cell.indexOf(esc) < 0) cell
    else {
      val sb = new java.lang.StringBuilder(cell.length + 4)
      var i = 0
      while (i < cell.length) {
        val c = cell.charAt(i)
        if (c == sepC || c == esc) sb.append(esc)
        sb.append(c)
        i += 1
      }
      sb.toString
    }
  }

  /** Split at UNESCAPED separators, keeping the escape bytes in place —
    * the \N null check compares raw field bytes before unescaping.
    */
  def escapedSplit(line: String, sep: String, esc: Char): Array[String] = {
    val sepC = sep.charAt(0)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == esc && i + 1 < line.length) {
        sb.append(c).append(line.charAt(i + 1)); i += 2
      }
      else if (c == sepC) { out += sb.toString; sb.setLength(0); i += 1 }
      else { sb.append(c); i += 1 }
    }
    out += sb.toString
    out.toArray
  }

  def unescapeCell(cell: String, esc: Char): String =
    if (cell.indexOf(esc) < 0) cell
    else {
      val sb = new java.lang.StringBuilder(cell.length)
      var i = 0
      while (i < cell.length) {
        val c = cell.charAt(i)
        if (c == esc && i + 1 < cell.length) {
          sb.append(cell.charAt(i + 1)); i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

}

/** Executor-side writer: one -joined line per row, nulls as \N —
  * byte-identical to LazySimpleSerDe output for primitive schemas.
  */
private class HiveTextOutputWriter(val path: String, dataSchema: StructType,
    context: TaskAttemptContext, sep: String, nullSeq: String,
    codec: Option[Class[_ <: org.apache.hadoop.io.compress.CompressionCodec]] = None,
    esc: Option[Char] = None)
    extends OutputWriter {
  private val out: java.io.OutputStream = {
    val p = new Path(path)
    val raw = p.getFileSystem(context.getConfiguration).create(p, false)
    codec match {
      case Some(c) => org.apache.hadoop.util.ReflectionUtils
        .newInstance(c, context.getConfiguration).createOutputStream(raw)
      case None => raw
    }
  }
  private val types = dataSchema.fields.map(_.dataType)
  private val sb = new java.lang.StringBuilder

  override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    var i = 0
    while (i < types.length) {
      if (i > 0) sb.append(sep)
      if (row.isNullAt(i)) sb.append(nullSeq)
      else {
        val cell = HiveTextSource.encode(row, i, types(i))
        esc match {
          case Some(e) => sb.append(HiveTextSource.escapeCell(cell, sep, e))
          case None => sb.append(cell)
        }
      }
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString.getBytes("UTF-8"))
  }

  override def close(): Unit = out.close()
}
