package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{HiveQl, Sessions}
import graft.operators.Dedup

/** One benchmark process: builds a graft session, sets up one workload from
  * the inputs `run.py` generated, runs a warm-up pass, then drives the
  * workload's operations closed-loop from a single client thread until the
  * time budget is spent. Everything the checks and metrics need is written
  * under `<work>/out`; nothing is judged here.
  *
  *   graftbench.Main --workload etl_session --work <dir> --seconds 20 --trace 0
  */
object Main {

  /** Wall clock in epoch milliseconds with nanosecond resolution, so client
    * spans line up with Spark listener timestamps (epoch ms).
    */
  object Clock {
    private val epoch0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  }

  /** JSON for the files `run.py` reads (Jackson, from Spark's classpath). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class OpResult(id: String, timed: Boolean, start: Double,
      end: Double, error: Option[String], rows: Seq[Seq[Any]])

  /** A workload: set-up, then operations in the order the input generator
    * fixed. `run` returns the operation's result rows.
    */
  trait Workload {
    def setup(spark: SparkSession): Unit
    def warmOps: Seq[String]
    def ops: Iterator[String]
    def run(spark: SparkSession, op: String): Seq[Seq[Any]]
    def finish(spark: SparkSession, out: File): Unit = ()
    /** Traced runs only: per-operation measurements taken after the
      * operation's clock has stopped.
      */
    def probe(op: String, t: Tracer): Unit = ()
  }

  private var tracer: Option[Tracer] = None

  /** `HiveQl.sql`, as a span of its own in traced runs. */
  private def hiveSql(spark: SparkSession, q: String): DataFrame = tracer match {
    case Some(t) => t.span("HiveQl.sql", "hiveql")(HiveQl.sql(spark, q))
    case None => HiveQl.sql(spark, q)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(opt("work"))
    val in = new File(work, "inputs")
    val out = new File(work, "out")
    out.mkdirs()
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"

    val b0 = Clock.now
    val base = Sessions.get("graft-perfbench")
    base.sparkContext.setLogLevel("WARN")
    val buildMs = Clock.now - b0
    val c0 = Clock.now
    val spark = Sessions.isolatedClone(base)
    spark.sql("SELECT 1").collect()
    val cloneMs = Clock.now - c0

    tracer = if (traced) Some(new Tracer(spark)) else None
    val wl: Workload = opt("workload") match {
      case "etl_session" => new EtlSession(in)
      case "dedup_ingest" => new DedupIngest(in, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val s0 = Clock.now
    wl.setup(spark)
    val setupMs = Clock.now - s0

    def exec(id: String, timed: Boolean, op: String): OpResult = {
      tracer.foreach(_.beginOp(id))
      val t0 = Clock.now
      val (err, rows) =
        try (None, wl.run(spark, op))
        catch { case e: Throwable => (Some(e.toString.take(500)), Nil) }
      val t1 = Clock.now
      tracer.foreach { t => t.endOp(id, t0, t1); wl.probe(id, t) }
      OpResult(id, timed, t0, t1, err, rows)
    }

    val results = ArrayBuffer[OpResult]()
    wl.warmOps.zipWithIndex.foreach { case (op, i) =>
      results += exec(s"w$i", timed = false, op)
    }
    val firstOp = Clock.now
    val deadline = firstOp + seconds * 1000
    val it = wl.ops
    var i = 0
    while (Clock.now < deadline && it.hasNext) {
      results += exec(s"o$i", timed = true, it.next())
      i += 1
    }
    val lastOp = Clock.now
    val hwmMb = vmHwmMb()
    val (liveHeapMb, heapCommittedMb) = heapAfterFullGcMb()
    tracer.foreach(_.finish())
    wl.finish(spark, out)

    val pw = new PrintWriter(new File(out, "ops.jsonl"), UTF_8)
    results.foreach { r =>
      pw.println(json.writeValueAsString(Map(
        "id" -> r.id, "timed" -> r.timed, "start" -> r.start, "end" -> r.end,
        "error" -> r.error, "rows" -> r.rows)))
    }
    pw.close()
    tracer.foreach(_.write(out))
    Files.writeString(new File(out, "summary.json").toPath, json.writeValueAsString(Map(
      "build_ms" -> buildMs, "clone_ms" -> cloneMs,
      "workload_setup_ms" -> setupMs, "first_op" -> firstOp,
      "last_op" -> lastOp, "vm_hwm_mb" -> hwmMb,
      "heap_committed_mb" -> heapCommittedMb, "heap_after_gc_mb" -> liveHeapMb)), UTF_8)
    base.stop()
  }

  /** Peak resident set (VmHWM) of this process. */
  private def vmHwmMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Live heap after a full collection, and the committed heap, in MB.
    * Taken after the timed region, so the collection costs no operation.
    */
  private def heapAfterFullGcMb(): (Double, Double) = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    (heap.getUsed.toDouble / (1024 * 1024), heap.getCommitted.toDouble / (1024 * 1024))
  }

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq)

  // ---- etl_session: one CLI-like statement stream over Hive-format tables

  final class EtlSession(in: File) extends Workload {
    def setup(spark: SparkSession): Unit =
      spark.read.parquet(new File(in, "src.parquet").toString)
        .createOrReplaceTempView("src")
    def warmOps: Seq[String] = lines(new File(in, "warm.sql"))
    def ops: Iterator[String] = lines(new File(in, "ops.sql")).iterator
    def run(spark: SparkSession, op: String): Seq[Seq[Any]] =
      rowsOf(hiveSql(spark, op)).take(200)
    /** Final contents of every table the stream left, for the checker. */
    override def finish(spark: SparkSession, out: File): Unit =
      spark.catalog.listTables().collect().filterNot(_.isTemporary)
        .foreach { t =>
          spark.table(t.name).write.mode("overwrite")
            .parquet(new File(out, s"final/${t.name}").toString)
        }
  }

  // ---- dedup_ingest: the delta-dedup admission loop over a durable store

  final class DedupIngest(in: File, work: File) extends Workload {
    private var store: Dedup.SigStore = _
    private val storeDir = new File(work, "sigstore").toString

    def setup(spark: SparkSession): Unit = {
      val docs = spark.read.parquet(new File(in, "store.parquet").toString)
      store = Dedup.buildSigStore(docs, "bench", 16, 2, Some(storeDir))
      tracer.foreach(t => probe("setup", t))
    }
    def warmOps: Seq[String] = lines(new File(in, "warm.txt"))
    def ops: Iterator[String] = lines(new File(in, "ops.txt")).iterator
    def run(spark: SparkSession, op: String): Seq[Seq[Any]] = {
      val delta = spark.read.parquet(op)
      val (admitted, next) = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)
      store = next
      admitted.select(col("doc_id")).collect().toSeq.map(r => Seq(r.get(0)))
    }

    private var seen = Map.empty[String, (Long, Long)]

    /** Bytes Staging wrote under the store's directory during the
      * operation (new or rewritten files), and the store's file count.
      */
    override def probe(op: String, t: Tracer): Unit = {
      val now = Files.walk(new File(storeDir).toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      val written = now.collect { case (p, v @ (size, _)) if !seen.get(p).contains(v) => size }.sum
      seen = now
      t.add(op, "Staging.write_bytes", written.toDouble)
      t.set(op, "Dedup.store_files", now.keys.count(p =>
        (p.contains("bench_words") || p.contains("bench_bands")) && p.endsWith(".parquet")).toDouble)
    }
  }
}
