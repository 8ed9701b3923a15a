package graft

import java.nio.file.Files
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** AQE skew-join splitting on a manufactured hot key, and the foreachBatch
  * sink pattern (per-batch custom writes — the reference's FileSink +
  * MoveTask publish step rolled into one streaming callback).
  */
class SkewAndSinkSpec extends SparkSpec {

  test("AQE splits a skewed join partition") {
    // one hot key carrying ~all rows, plus a long tail
    val big = spark.range(0, 400000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("k"),
        col("id").as("v"))
    val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))

    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // no aggregation downstream: a required output distribution would
      // veto OptimizeSkewedJoin (it can't split partitions a parent needs)
      val joined = big.join(dim, Seq("k"))
      joined.count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew="), s"AQE skew handling not engaged:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("foreachBatch lands each micro-batch in the sink exactly once") {
    val out = Files.createTempDirectory("graft-feb").toString
    val q = Streaming.eventsStream(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()

    val landed = spark.read.parquet(out)
    val source = Tables.load(spark, sfDir, "events").count()
    assert(landed.count() == source, "every source row lands exactly once")
    assert(landed.select("event_id").distinct().count() == source)
  }
}
