package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, attached from outside the engine: a job
  * group per operation, a SparkListener (jobs, stages, tasks, SQL plan
  * metrics, AQE re-plans), an ExternalCatalog listener, a
  * QueryExecutionListener for `QueryPlanningTracker` phases, and Spark's
  * CodegenMetrics. Spans and counters stay in memory until [[write]].
  *
  * Counters are keyed by operation id; events outside any operation go to
  * "setup". Self times and per-layer sums are derived by `layers.py`.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val opSpans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  @volatile private var currentOp = "setup"
  @volatile private var lastEvent = System.currentTimeMillis()
  private val jobSpans = mutable.Map[Int, Span]()
  private val stageOp = mutable.Map[Int, String]()
  private val execOp = mutable.Map[Long, String]()
  private val accMetric = mutable.Map[Long, String]()
  private val driverAcc = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val aqeUpdates = mutable.ArrayBuffer[Long]()
  private var codegenAtStart = (0L, 0.0)

  def add(op: String, metric: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap[String, Double]())
    m(metric) = m.getOrElse(metric, 0.0) + v
  }

  def set(op: String, metric: String, v: Double): Unit = synchronized {
    counters.getOrElseUpdate(op, mutable.LinkedHashMap[String, Double]())(metric) = v
  }

  /** Compilations so far and their summed milliseconds. The histogram's
    * reservoir holds every sample while fewer than 1028 have been taken,
    * so the sum is exact for the runs this benchmark makes.
    */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def beginOp(id: String): Unit = {
    currentOp = id
    sc.setJobGroup(id, id, interruptOnCancel = false)
    codegenAtStart = codegen()
  }

  def endOp(id: String, start: Double, end: Double): Unit = {
    val (n, ms) = codegen()
    add(id, "plans.codegen_compiles", (n - codegenAtStart._1).toDouble)
    add(id, "plans.codegen_compile_ms", ms - codegenAtStart._2)
    sc.clearJobGroup()
    currentOp = "setup"
    synchronized { opSpans += Span("op", id, id, start, end) }
  }

  /** Time `f` as a span of `kind` inside the current operation. */
  def span[T](name: String, kind: String)(f: => T): T = {
    val t0 = Main.Clock.now
    try f
    finally synchronized { spans += Span(kind, name, currentOp, t0, Main.Clock.now) }
  }

  private def formatOf(s: String): Option[String] =
    if (s.contains("HiveText")) Some("text")
    else if (s.contains("HiveSequenceFile")) Some("seq")
    else if (s.contains("HiveRCFile")) Some("rc")
    else None

  /** Map the SQL metrics of Hive-format scans and writes to source metrics. */
  private def walk(p: SparkPlanInfo): Unit = {
    val isScan = p.nodeName.startsWith("Scan")
    val isWrite = p.nodeName.contains("InsertIntoHadoopFsRelationCommand")
    if (isScan || isWrite) {
      formatOf(p.nodeName + " " + p.simpleString).foreach { f =>
        p.metrics.foreach { m =>
          val metric = (isScan, m.name) match {
            case (true, "number of output rows") => Some("read_records")
            case (true, "size of files read") => Some("read_bytes")
            case (false, "number of output rows") => Some("write_records")
            case (false, "written output") => Some("write_bytes")
            case (false, "number of written files") => Some("files_written")
            case _ => None
          }
          metric.foreach(x => accMetric(m.accumulatorId) = s"sources.$f.$x")
        }
      }
    }
    p.children.foreach(walk)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("setup")
      val s = Span("job", s"job ${e.jobId}", op, e.time.toDouble, Double.NaN)
      spans += s
      jobSpans(e.jobId) = s
      e.stageIds.foreach(st => stageOp(st) = op)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp.getOrElseUpdate(x.toLong, op))
      add(op, "exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        lastEvent = System.currentTimeMillis()
        val si = e.stageInfo
        val op = stageOp.getOrElse(si.stageId, "setup")
        for (a <- si.submissionTime; b <- si.completionTime)
          spans += Span("stage", s"stage ${si.stageId}.${si.attemptNumber()}: ${si.name}",
            op, a.toDouble, b.toDouble)
        add(op, "exec.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      val op = stageOp.getOrElse(e.stageId, "setup")
      val info = e.taskInfo
      add(op, "exec.tasks", 1)
      if (e.reason != Success) add(op, "exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "exec.task_run_ms", m.executorRunTime.toDouble)
        add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
        add(op, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "exec.spill_bytes", m.diskBytesSpilled.toDouble)
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          add(op, "exec.empty_tasks", 1)
        add(op, "exec.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime).toDouble)
      }
      info.accumulables.foreach { a =>
        for (name <- accMetric.get(a.id); u <- a.update) u match {
          case n: java.lang.Number => add(op, name, n.doubleValue)
          case _ =>
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(g => execOp(s.executionId) = g)
          walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          walk(u.sparkPlanInfo)
          aqeUpdates += u.executionId
        case d: SparkListenerDriverAccumUpdates =>
          d.accumUpdates.foreach { case (id, v) => driverAcc += ((d.executionId, id, v)) }
        case _ =>
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    synchronized {
      ps.foreach { case (name, p) =>
        if (name != "parsing")
          spans += Span("phase", name, "?", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  })
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
    .externalCatalog.addListener(new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = add(currentOp, "catalog.events", 1)
    })

  /** Wait for the asynchronous listener bus to deliver every event of the
    * run, then attribute what could only be resolved afterwards.
    */
  def finish(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (System.currentTimeMillis() < deadline &&
      (synchronized(jobSpans.nonEmpty) || System.currentTimeMillis() - lastEvent < 500))
      Thread.sleep(50)
    synchronized {
      driverAcc.foreach { case (exec, id, v) =>
        for (name <- accMetric.get(id)) add(execOp.getOrElse(exec, "setup"), name, v.toDouble)
      }
      aqeUpdates.foreach(x => add(execOp.getOrElse(x, "setup"), "plans.aqe_replans", 1))
      spans.filter(_.op == "?").foreach { s =>
        s.op = opSpans.find(o => s.start >= o.start - 1 && s.start <= o.end)
          .map(_.op).getOrElse("setup")
      }
    }
  }

  def write(out: File): Unit = synchronized {
    val pw = new PrintWriter(new File(out, "spans.jsonl"), UTF_8)
    (opSpans ++ spans).foreach { s =>
      pw.println(Main.json.writeValueAsString(Map("kind" -> s.kind, "name" -> s.name,
        "op" -> s.op, "start" -> s.start, "end" -> (if (s.end.isNaN) s.start else s.end))))
    }
    pw.close()
    java.nio.file.Files.writeString(new File(out, "counters.json").toPath,
      Main.json.writeValueAsString(counters), UTF_8)
  }
}

object Tracer {
  final case class Span(kind: String, name: String, var op: String,
      start: Double, var end: Double)
}
