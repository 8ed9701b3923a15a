package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

import graft.operators.Staging

/** Stage-boundary materialization (operators/Staging.scala — the scratch-dir
  * stage write of the reference's ExecDriver.java:94 / MoveTask.java).
  * The executed-plan proof VERDICT r5 asked for: q116's pairing plan reads
  * ONLY the staged parquet — the clustering lineage appears zero times —
  * while lazy q104 re-derives the assignment on each self-join side.
  */
class StagingSpec extends SparkSpec {

  /** file scans whose location matches `needle` in an executed plan */
  private def fileScans(p: SparkPlan, needle: String): Int = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan, needle)
    case q: QueryStageExec => fileScans(q.plan, needle) // AQE stages are leaves
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(needle))) 1 else 0
    case other =>
      (other.children ++ other.subqueries).map(fileScans(_, needle)).sum
  }

  test("stage() publishes write-audit-publish parquet and restaging overwrites") {
    import spark.implicits._
    val first = Staging.stage(Seq((1, "a"), (2, "b")).toDF("id", "v"), "spec_stage")
    assert(first.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    val second = Staging.stage(Seq((3, "c")).toDF("id", "v"), "spec_stage")
    assert(second.collect().map(_.getString(1)).toSeq == Seq("c"),
      "restaging the same name must replace, never append or go stale")
  }

  test("stage() writes byte-targeted files, not input-partitioning slivers") {
    import spark.implicits._
    val frag = (1 to 60000).toDF("id").repartition(32) // the q116 shape: tiny rows fanned wide
    val out = Staging.stage(frag, "spec_stage_sized")
    assert(out.count() == 60000)
    val fs = new org.apache.hadoop.fs.Path(Staging.scratchRoot(spark))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(name: String): Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(Staging.scratchRoot(spark), name))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(dataFiles("spec_stage_sized") == 1,
      "60k ints are far below the advisory partition size: one file, not 32 slivers")
    // opt-out preserves the input partitioning
    spark.conf.set("graft.staging.rebalance", "false")
    try {
      Staging.stage(frag, "spec_stage_raw")
      assert(dataFiles("spec_stage_raw") == 32)
    } finally spark.conf.unset("graft.staging.rebalance")
  }

  test("stage() reads back with the written schema: same schema and rows as inference") {
    // the staged copy is scanned with the schema just written, not by
    // footer inference — it must see exactly what a fresh inferred read of
    // the same directory sees, nested and nullable types included
    val df = spark.sql("""
      SELECT id,
             array(id, id + 1, IF(id = 2, NULL, id)) AS arr,
             map('k', id, 'n', IF(id = 3, NULL, id)) AS m,
             named_struct('a', id, 'b', array(cast(id AS string)),
                          'c', IF(id = 1, NULL, named_struct('d', id * 2))) AS st,
             timestamp'2020-02-29 12:34:56.789' + make_interval(0, 0, 0, id) AS ts,
             IF(id = 4, NULL, cast(id AS decimal(12, 3)) / 7) AS dec
      FROM range(6)""")
    val staged = Staging.stage(df, "spec_stage_roundtrip")
    val inferred = spark.read.parquet(Staging.scratchRoot(spark) + "/spec_stage_roundtrip")
    assert(staged.schema == inferred.schema,
      s"pinned read-back schema drifted:\n${staged.schema.treeString}\nvs inferred\n" +
        inferred.schema.treeString)
    val rows = staged.orderBy("id").collect().toSeq
    assert(rows == inferred.orderBy("id").collect().toSeq)
    assert(rows == df.orderBy("id").collect().toSeq, "staging must not change the rows")
  }

  test("aggregate-rooted stages skip the rebalance and still publish one file") {
    import spark.implicits._
    val frag = (1 to 60000).toDF("id").repartition(32)
    def dataFiles(name: String): Int = {
      val dir = new org.apache.hadoop.fs.Path(Staging.scratchRoot(spark), name)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    // the aggregate's own shuffle is AQE-coalesced: no second exchange
    // needed to land one file
    val grouped = Staging.stage(
      frag.groupBy(($"id" % 100).as("k")).count(), "spec_stage_agg")
    assert(grouped.count() == 100)
    assert(dataFiles("spec_stage_agg") == 1)
    val distinct = Staging.stage(frag.select(($"id" % 7).as("k")).distinct(),
      "spec_stage_distinct")
    assert(distinct.orderBy("k").collect().map(_.getInt(0)).toSeq == (0 to 6))
    assert(dataFiles("spec_stage_distinct") == 1)
  }

  test("q117's final job reads staged round-3 centroids, not the 3-round lineage") {
    val df = SparkEntry.queries("q117_kmeans_iterated")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(fileScans(plan, "q117_cents_r3") == 1,
      s"final assignment must scan the staged round-3 centroids:\n$plan")
    assert(fileScans(plan, "q117_cents_r2") == 0
      && fileScans(plan, "q117_cents_r1") == 0,
      "earlier rounds are cut at their stage boundary")
    assert(fileScans(plan, "embeddings") == 1,
      "one embeddings scan — the deep per-round lineage never re-executes")
  }

  test("q116 pairing reads only the staged copy — assignment derived once") {
    // invoking the query function runs the staging job (the one and only
    // assignment derivation); the returned pairing DataFrame is still lazy
    val pairing = SparkEntry.queries("q116_semdedup_staged")(spark, sfDir)
    val staged = pairing.collect()
    val plan = pairing.queryExecution.executedPlan
    assert(fileScans(plan, "embeddings") == 0,
      s"pairing must not re-derive the assignment from source:\n$plan")
    assert(fileScans(plan, "q116_assigned") == 2,
      s"both self-join sides must scan the staged parquet:\n$plan")

    // contrast: the lazy q104 plan re-derives — its one execution scans the
    // embeddings source on BOTH join sides (2+ scans; the 0-vs-N evidence)
    val lazyDf = SparkEntry.queries("q104_semdedup")(spark, sfDir)
    val lazyRows = lazyDf.collect()
    assert(fileScans(lazyDf.queryExecution.executedPlan, "embeddings") >= 2,
      "q104's lazy plan re-derives the assignment per join side")

    // staging changes the plan, not the answer
    assert(staged.map(_.toString).toSeq == lazyRows.map(_.toString).toSeq)
  }
}
