package graft.operators

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Harvests `Dataset.observe` metrics from actions that build their own
  * `QueryExecution` — a `df.write` plans an insert command around the
  * logical plan, so `df.queryExecution.observedMetrics` (the ObserveSpec
  * pattern, which works for `collect()`) stays empty for writes. The
  * listener below sees every execution's observed metrics and files them by
  * observation name; [[take]] retrieves one, waiting out the listener bus's
  * asynchrony (metrics are posted after the action returns).
  *
  * This is what lets an iterative operator fuse its convergence check into
  * its checkpoint write (q86: one job per superstep round instead of a
  * write plus a separate count action over the staged output) — the
  * Spark-native form of the reference reading its convergence counters from
  * MapReduce job counters rather than running a second job
  * (`ExecDriver.java:94` polls RunningJob counters after each stage).
  */
object Observed {

  private val captured = new ConcurrentHashMap[String, Row]()
  private val registered = new ConcurrentHashMap[SparkSession, java.lang.Boolean]()
  private val seq = new AtomicLong()

  /** Observation names must be unique per concurrent execution; re-running
    * the same query (bench min-of-2, Verify subset reruns) must never read a
    * stale metric, so every run gets a fresh name.
    */
  def freshName(prefix: String): String = prefix + "_" + seq.incrementAndGet()

  /** Idempotently attach the harvesting listener to `spark` (listener
    * managers are per-session, not per-application).
    */
  def ensureListener(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (k, v) => captured.put(k, v) }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
    }

  /** Remove and return the metric row for `name`. The execution must have
    * already COMPLETED (call this after the action returns); the wait only
    * covers listener-bus delivery latency, so the timeout is generous
    * relative to that and a miss means the observed plan never ran — fail
    * loudly rather than spin.
    */
  def take(name: String, timeoutMs: Long = 60000): Row = {
    val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(timeoutMs)
    var row = captured.remove(name)
    while (row == null && System.nanoTime() < deadline) {
      Thread.sleep(5)
      row = captured.remove(name)
    }
    if (row == null)
      throw new IllegalStateException(
        s"observed metric '$name' never arrived — was the observed plan executed?")
    row
  }
}
