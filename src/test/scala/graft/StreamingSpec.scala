package graft

import graft.streaming.{Sessionizer, UserSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Drives the stateful sessionizer through a real incremental stream
  * (MemoryStream, two micro-batches) and asserts sessions close on gap and
  * on watermark timeout — behavior the batch oracle can't exercise.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val us = 1000L * 1000 // micros per second

  test("flatMapGroupsWithState sessionizer closes on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // (user_id, ts_us, value)

    val sessions = input.toDS()
      .select(col("_1").as("user_id"), timestamp_micros(col("_2")).as("ts"),
        col("_3").as("value"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        Sessionizer.sessionize)

    val q = sessions.writeStream
      .queryName("sess_sink")
      .outputMode(OutputMode.Append())
      .format("memory")
      .start()

    // base offset keeps every event strictly above the initial watermark (0)
    val b = 1000L * us
    // batch 1: user 1 has two events 10 min apart (one session), then a
    // 40-min gap event -> first session closes inline
    input.addData((1L, b, 1.0), (1L, b + 600L * us, 2.0), (1L, b + 3000L * us, 5.0))
    q.processAllAvailable()
    val afterB1 = spark.table("sess_sink").as[UserSession].collect()
    assert(afterB1.toSeq == Seq(
      UserSession(1L, b, b + 600L * us + Sessionizer.GapUs, 2, 3.0)))

    // batch 2: far-future event advances the watermark past the open
    // session's timeout -> it closes via hasTimedOut
    input.addData((2L, b + 10000L * us, 9.0))
    q.processAllAvailable()
    val afterB2 = spark.table("sess_sink").as[UserSession].collect().sortBy(_.start_us)
    q.stop()

    assert(afterB2.exists(s =>
      s.user_id == 1L && s.start_us == b + 3000L * us && s.n_events == 1 && s.total == 5.0),
      s"timed-out session missing: ${afterB2.toSeq}")
  }

  test("left-outer stream-stream join emits null-padded rows after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Long, Long)] // (key, ts_us)
    val r = MemoryStream[(Long, Long)]
    val left = l.toDS()
      .select(col("_1").as("k"), timestamp_micros(col("_2")).as("lts"))
      .withWatermark("lts", "0 seconds")
    val right = r.toDS()
      .select(col("_1").as("k2"), timestamp_micros(col("_2")).as("rts"))
      .withWatermark("rts", "0 seconds")
    val joined = left.join(right,
      col("k") === col("k2")
        && col("rts") >= col("lts")
        && col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES"),
      "left_outer")
    val q = joined.writeStream.queryName("lojoin_sink")
      .outputMode(OutputMode.Append()).format("memory").start()

    val b = 1000L * us
    // key 1 matches inside the interval; key 2 never matches
    l.addData((1L, b), (2L, b))
    r.addData((1L, b + 60L * us))
    q.processAllAvailable()
    val early = spark.table("lojoin_sink")
      .select("k", "k2").collect().map(x => (x.getLong(0), x.isNullAt(1)))
    assert(early.toSet == Set((1L, false)),
      s"unmatched row must be HELD until the watermark passes: ${early.toSeq}")

    // watermark rides min(maxEventTime) across BOTH inputs — advance both
    // past key 2's join window so the held row flushes null-padded
    l.addData((99L, b + 1800L * us))
    r.addData((99L, b + 1800L * us))
    q.processAllAvailable()
    val fin = spark.table("lojoin_sink")
      .select("k", "k2").collect().map(x => (x.getLong(0), x.isNullAt(1))).toSet
    q.stop()
    assert(fin.contains((2L, true)), s"null-padded row missing: $fin")
    assert(fin.contains((1L, false)))
  }

  test("full-outer stream-stream join null-pads BOTH unmatched sides") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Long, Long)]
    val r = MemoryStream[(Long, Long)]
    val left = l.toDS()
      .select(col("_1").as("k"), timestamp_micros(col("_2")).as("lts"))
      .withWatermark("lts", "0 seconds")
    val right = r.toDS()
      .select(col("_1").as("k2"), timestamp_micros(col("_2")).as("rts"))
      .withWatermark("rts", "0 seconds")
    val joined = left.join(right,
      col("k") === col("k2")
        && col("rts") >= col("lts")
        && col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES"),
      "full_outer")
    val q = joined.writeStream.queryName("fojoin_sink")
      .outputMode(OutputMode.Append()).format("memory").start()

    val b = 1000L * us
    // key 1 matches; key 2 exists only left; key 3 exists only right
    l.addData((1L, b), (2L, b))
    r.addData((1L, b + 60L * us), (3L, b))
    q.processAllAvailable()
    // advance the watermark on both inputs past every join window
    l.addData((99L, b + 1800L * us))
    r.addData((99L, b + 1800L * us))
    q.processAllAvailable()
    val fin = spark.table("fojoin_sink")
      .select("k", "k2")
      .collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    q.stop()
    assert(fin.contains((1L, 1L)), s"matched pair missing: $fin")
    assert(fin.contains((2L, -1L)), s"left-unmatched null-pad missing: $fin")
    assert(fin.contains((-1L, 3L)), s"right-unmatched null-pad missing: $fin")
  }

  test("trigger sizing: files-per-trigger scales with directory size, batch count stays ~3") {
    import graft.streaming.Streaming
    // single-file fixture (driver layout) → 1 file per trigger
    assert(Streaming.filesPerTrigger(spark, s"$sfDir/events.parquet") == 1)
    // synthetic 10-file ingest directory (the sf1 shape) → ceil(10/3) = 4
    val dir = java.nio.file.Files.createTempDirectory("trig").toString
    (0 until 10).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, f"part-$i%05d.parquet"), "x")
    }
    assert(Streaming.filesPerTrigger(spark, dir) == 4)
    // a 30-file directory batches 10 per trigger — batch count stays 3 as
    // the directory grows (the q111 alpha~1 fix, VERDICT r16 #5)
    (10 until 30).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, f"part-$i%05d.parquet"), "x")
    }
    assert(Streaming.filesPerTrigger(spark, dir) == 10)
    // explicit override wins
    val s2 = Sessions.isolatedClone(spark)
    s2.conf.set("graft.stream.filesPerTrigger", "2")
    assert(Streaming.filesPerTrigger(s2, dir) == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streamed tumbling aggregation equals the batch plan") {
    val streamed = SparkEntry.queries("q70_stream_tumbling")(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }
}
