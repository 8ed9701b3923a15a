package graft.operators

import org.apache.spark.sql.DataFrame

/** Data-proportional repartitioning (guide §2.2/§2.6): partition count must
  * follow DATA SIZE, not core count. The LLM-pipeline operators historically
  * opened with `repartition(defaultParallelism)` to spread a possibly-
  * single-file corpus scan across cores before CPU-heavy kernels (minhash,
  * simhash, tokenization). At fixture scale that constant is exactly the
  * anti-pattern the r17 scaling run exposed: a 584 KB `documents` scan
  * becomes 32 × 18 KB partitions, and every downstream stage pays 32 tasks'
  * fixed cost for microseconds of work each — the full suite measured
  * FASTER at 8 cores than 32 (BENCH_r17_c8 vs BENCH_r17).
  *
  * [[spreadForCompute]] keeps the spread-for-CPU intent but gates it on the
  * optimizer's size estimate of the input plan:
  *   - below [[MinBytes]] (32 MB) the exchange is
  *     skipped outright — the scan's own partitioning (1-2 tasks for a
  *     sub-split file) is already minimal, and a round-robin exchange (plus
  *     its mandatory sort-before-repartition) would only ADD a stage;
  *   - above it, the old behavior stands, except the count also grows past
  *     core count for genuinely large inputs (`bytes / 128 MB` when that
  *     exceeds defaultParallelism), so a 100 TB corpus is not squeezed into
  *     one wave of core-count partitions.
  * Row content is unchanged either way — round-robin repartition only
  * moves rows — so every oracle result is byte-identical.
  */
object Sizing {

  /** Inputs estimated below this never get the spread exchange. */
  private val MinBytes = 32L << 20

  /** Target partition size once a spread IS warranted. */
  private val TargetBytes = 128L << 20

  /** The small-input gate of [[spreadForCompute]], for callers that
    * measure the input's bytes some other way (a streaming plan has no
    * size estimate).
    */
  def belowSpreadGate(bytes: Long): Boolean = bytes >= 0 && bytes < MinBytes

  /** `df.repartition(defaultParallelism)` with a data-size gate — see
    * object doc. Safe wherever the old constant-count spread was: the
    * operators using it are partition-agnostic (aggregations, equi-joins,
    * windows keyed by their own columns).
    */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val bytes = planBytes(df)
    if (belowSpreadGate(bytes)) df else spread(df, bytes)
  }

  /** As [[spreadForCompute]] but WITHOUT the small-input gate — for
    * kernels whose per-byte CPU is orders of magnitude above a normal
    * projection (winnowing's md5-per-5-gram, content-defined chunking's
    * rolling hash per byte, minhash over every token): there the work on a
    * 584 KB fixture is seconds of CPU, and the r18 full-bench caught
    * exactly the gated sites regressing when that work serialized
    * (q63 0.8→4.3 s, q97, q90, q86). Still data-adaptive upward: the
    * count grows past core count once the input outgrows [[TargetBytes]].
    */
  def spreadForHeavyCompute(df: DataFrame): DataFrame =
    spread(df, planBytes(df))

  private def spread(df: DataFrame, bytes: Long): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism.toLong
    val n = if (bytes < 0) dp
      else math.max(dp, (bytes + TargetBytes - 1) / TargetBytes)
    df.repartition(math.min(n, Int.MaxValue.toLong).toInt)
  }

  /** Optimizer size estimate of `df`'s plan; -1 when unavailable. For the
    * scan-plus-projection shapes this is called on, the estimate is the
    * (compressed) file footprint — exactly the quantity the 32 MB gate
    * wants. Driver-side only, no job.
    */
  def planBytes(df: DataFrame): Long =
    try {
      val s = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (s.isValidLong) s.toLong else Long.MaxValue
    } catch { case _: Throwable => -1L }
}
