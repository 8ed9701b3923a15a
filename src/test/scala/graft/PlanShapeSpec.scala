package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, InSet, Not}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.QFileParity.RefData

/** Asserts the physical plans are the ones a 100 TB deployment needs — not
  * just that results match: filters/projections reach the parquet scan,
  * small sides broadcast, top-k plans use TakeOrderedAndProject, semi joins
  * stay semi.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("q02: predicates are pushed to the parquet scan, schema pruned") {
    val p = plan("q02_filter")
    // plan toString truncates long filter lists — match a stable prefix
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipda"),
      s"shipdate filter not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      s"scan should not read unused columns:\n$p")
  }

  test("q04: explicit broadcast hint yields BroadcastHashJoin") {
    assert(plan("q04_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q14: ORDER BY + LIMIT plans as TakeOrderedAndProject") {
    assert(plan("q14_orderby_limit").contains("TakeOrderedAndProject"))
  }

  test("q09/q10: semi and anti joins keep their join type") {
    assert(plan("q09_semi_join").contains("LeftSemi"))
    assert(plan("q10_anti_join").contains("LeftAnti"))
  }

  test("q52: LSH candidate generation is an equi-join, never cartesian") {
    val p = plan("q52_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"minhash candidates must come from the band equi-join:\n$p")
  }

  test("q53/q65: banded dedup pairing never plans a cartesian product") {
    Seq("q53_dedup_simhash", "q65_dedup_cosine").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidates must come from the band equi-join:\n$p")
    }
  }

  test("global join audit: non-equi joins appear ONLY where designed") {
    // every one of these is a deliberate broadcast-bounded plan — the big
    // side stays partition-parallel and only a scalar/constant side
    // replicates; anything new showing up here is a scale regression
    val allowed = Set(
      "q26_cross_join",   // the cross-join capability under test
      "q45_bitmap",       // 1x1 join of two aggregated scalar bitmaps
      "q54_embed_knn",    // brute-force kNN baseline: broadcast query set
      "q64b_tfidf",       // broadcast in-plan corpus-size scalar
      "q75_ann_ivf",      // broadcast coarse quantizer (8 centroids)
      "q92_boilerplate",  // broadcast in-plan corpus-size scalar (as q64b)
      "q99_lm_score",     // broadcast in-plan vocab-size scalar (as q64b)
      "q103_domain_mix",  // broadcast 1-row weight-normalizer scalar
      "q104_semdedup",    // broadcast centroid set (k rows) argmax assign
      "q105_kmeans_step", // broadcast centroid set, both Lloyd passes
      "q117_kmeans_iterated", // broadcast centroid set, per staged round
      "q119_semdedup_capped", // broadcast centroid set (q104's argmax)
      "q931_semdedup_sqrtk", // broadcast centroid set, k≈√n (r17 100× fix)
      "q28_cluster_by",   // broadcast 1-row sorted_ok verdict scalar
      "q137_bm25",        // broadcast 1-row (N, avgdl) corpus-stats scalar
      "q178_qf_join_filters", // join_filters.q pure-filter ON clauses: the
                              // .q's own 4-row fixture, nested-loop BY SPEC
      "q180_qf_join0",        // join0.q IS an ON-less join of two <10
                              // filtered subqueries — cross join by spec
      "q215_qf_input26",      // srcpart's 4-row (ds,hr) VALUES side under a
                              // branch filter that empties it — broadcast
                              // nested-loop over a constant-size side
      "q225_qf_join_nulls",   // join_nulls.q's conditionless JOIN/outer
                              // selects ARE cartesians by spec (3-row table)
      "q231_qf_join23",       // join23.q IS an ON-less JOIN with WHERE on
                              // both sides — cross join by spec
      "q257_qf_union_ppr",    // srcpart (ds,hr) VALUES side as q215
      "q426_qf_transform_ppr1", // transform_ppr1.q reads srcpart — its
                              // 4-row (ds,hr) VALUES side is a broadcast
                              // nested-loop against constant data (as q215)
      "q427_qf_transform_ppr2", // transform_ppr2.q — same srcpart shape
      "q428_qf_ppd_udf_case", // ppd_udf_case.q self-joins srcpart — the
                              // equi key-join is hashed; the flagged join
                              // is srcpart's own VALUES side (as q215)
      "q478_qf_udaf_percentile_approx", // 1-row approx-aggregate row joined
                              // to the 1-row exact-percentile row (as q45)
      "q528_qf_input42",      // srcpart's 4-row (ds,hr) VALUES side (as q215)
      "q533_qf_input_part0",  // srcpart VALUES side (as q215)
      "q534_qf_input_part3",  // srcpart VALUES side (as q215)
      "q537_qf_input_part7",  // srcpart VALUES side, both union legs (as q215)
      "q559_qf_rand_partitionpruner3", // 1-row sampled count × 1-row exact
                              // count verdict join (as q45) over srcpart
      "q274_qf_udf_coalesce", // 1-row constant select joined to the 11-row
                              // thrift fixture for a single result set
      "q275_qf_udf_in",       // same 1-row constant-battery join shape
      "q284_qf_auto_join0",   // auto_join0.q IS an ON-less join — its own
                              // require() pins the BroadcastNestedLoopJoin
      "q389_qf_auto_join_nulls", // auto_join_nulls.q opens with three
                              // conditionless JOIN/outer selects over the
                              // 3-row in1.txt fixture — cartesians by spec
                              // (same forms as q225's join_nulls.q)
      "q400_qf_auto_join23",  // auto_join23.q IS an ON-less JOIN with a
                              // WHERE range — cross join by spec (same
                              // form as q231's join23.q, auto-convert leg
      "q807_qf_ppr_pushdown3", // srcpart VALUES side (as q215) in all legs
      "q808_qf_louter_join_ppr", // ON-clause partition filter on an OUTER
                              // join can't become a pushdown — it stays a
                              // join condition (louter_join_ppr.q's point),
                              // + the srcpart fixture's VALUES side
      "q809_qf_router_join_ppr", // same, RIGHT OUTER legs
      "q810_qf_outer_join_ppr",  // same, FULL OUTER legs
      "q815_qf_sample8",      // sample8.q's executed SELECT joins the two
                              // sampled sides with NO condition — a
                              // cartesian by spec (the WHERE only pins s)
      "q866_qf_no_hooks",     // no_hooks.q IS a conditionless self-join
                              // with WHERE range filters — cross by spec
      "q872_qf_mapjoin1",     // srcpart VALUES side (as q215)
      "q874_qf_mapjoin_subquery", // srcpart VALUES side (as q215)
      "q875_qf_mapjoin_mapjoin",  // srcpart VALUES side (as q215)
      "q877_qf_input_part9")  // srcpart VALUES side (as q215)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.contains("stream")) // streaming fns execute on call
      .map { case (name, fn) =>
        val df = fn(spark, sfDir)
        (name, df.queryExecution.executedPlan.toString, df.schema)
      }
    val flagged = results.collect {
      case (name, p, _)
        if p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin") =>
        name
    }.toSet
    assert(flagged == allowed,
      s"unexpected non-equi joins: ${(flagged -- allowed).mkString(", ")}; " +
        s"missing (plan changed?): ${(allowed -- flagged).mkString(", ")}")
    // registry lint (r12 q445): the driver pandas-sorts every oracled output
    // and cannot hash list/struct/map cells — no QueryDef may emit nested
    // columns. Stringify with to_json on both sides instead.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nested = results.collect {
      case (name, _, schema) if schema.exists(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      }) => name
    }
    assert(nested.isEmpty,
      s"queries with nested output columns (driver cannot hash them — " +
        s"to_json both sides): ${nested.mkString(", ")}")
  }

  test("q106/q109: pipeline scans read only the projected columns") {
    // q106 reads documents twice (deliberate, see its comment) — both scans
    // must prune to (doc_id, text); q109 must read only the embedding column
    val p106 = plan("q106_dup_grams")
    assert(!p106.contains("lang") && !p106.contains("source") && !p106.contains("n_chars"),
      s"q106 scan reads unused columns:\n$p106")
    val p109 = plan("q109_dim_stats")
    assert(!p109.contains("vec_id") && !p109.contains("label"),
      s"q109 scan reads unused columns:\n$p109")
  }

  test("hive FileFormat scans prune to the projected columns (ReadSchema)") {
    // the r10 format sources are real FileFormats: Catalyst's column
    // pruning must reach their ReadSchema, and for hiverc the pruned
    // schema drives blob SKIPPING inside the reader (RCFileSpec proves the
    // skip; this pins the plan side for all three)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ff_prune").toString
    val df3 = Seq((1L, "a", 9.9), (2L, "b", 8.8)).toDF("k", "v", "w")
    for (fmt <- Seq("graft.sources.HiveTextSource", "graft.sources.HiveSeqSource",
        "graft.sources.HiveRCSource")) {
      val sub = s"$dir/${fmt.split('.').last}"
      df3.write.format(fmt).save(sub)
      val p = spark.read.format(fmt).schema("k BIGINT, v STRING, w DOUBLE")
        .load(sub).select("v").queryExecution.executedPlan.toString
      assert(p.contains("ReadSchema: struct<v:string>"),
        s"$fmt scan must prune to v only:\n$p")
    }
  }

  test("q119: cluster-size cap executes as Partial+Final WindowGroupLimit") {
    // the cap defends against mega-clusters; its scale-safety rests on
    // InferWindowGroupLimit keeping <=cap rows per cluster per MAP task
    // (Partial mode, below the c_id exchange) so no task ever sorts a whole
    // cluster. Pin the plan so a filter-shape regression fails loudly.
    val p = plan("q119_semdedup_capped")
    assert(p.contains("WindowGroupLimit") && p.contains("row_number(), 20, Partial"),
      s"cap must run as a map-side bounded group limit:\n$p")
    assert(p.contains("row_number(), 20, Final"),
      s"cap must keep the final bounded pass:\n$p")
  }

  test("q121/q122: LSH bucket caps execute as Partial+Final WindowGroupLimit") {
    // same defense as q119, aimed at band buckets instead of clusters: a
    // duplicate-heavy bucket must be bounded map-side, never funneled
    // through one sorting window task
    val p121 = plan("q121_minhash_capped")
    assert(p121.contains("row_number(), 10, Partial") &&
      p121.contains("row_number(), 10, Final"),
      s"q121 bucket cap must be a bounded group limit:\n$p121")
    val p122 = plan("q122_simhash_capped")
    assert(p122.contains("row_number(), 5, Partial") &&
      p122.contains("row_number(), 5, Final"),
      s"q122 bucket cap must be a bounded group limit:\n$p122")
  }

  test("q124: substring scrub — equi-joins only, one coverage window, partial aggs") {
    val p = plan("q124_substring_scrub")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup-start join-back must stay equi:\n$p")
    // exactly one window operator (the trailing-8 coverage OR)
    assert("Window \\[".r.findAllIn(p).size == 1, s"expected one window:\n$p")
    // final per-doc aggregation has a map-side partial
    assert(p.contains("partial_count") && p.contains("partial_collect_list"),
      s"reassembly must aggregate partially before the doc shuffle:\n$p")
  }

  test("q125: verify stage joins candidates back by key, never pairwise-scans text") {
    val p = plan("q125_lsh_verify")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair verification must be keyed joins:\n$p")
    // the candidate cap's WindowGroupLimit survives composition
    assert(p.contains("row_number(), 10, Partial"),
      s"capped candidate generation lost its pre-shuffle bound:\n$p")
  }

  test("q126: survivor selection is one groupBy, no window over members") {
    val df = run("q126_survivor_select")
    df.collect() // finalize AQE so the executed plan is the real one
    val p = df.queryExecution.executedPlan.toString
    // max_by composes into the aggregate — no per-cluster window pass
    assert(!p.contains("RunningWindowFunction") &&
      "max_by".r.findAllIn(p).nonEmpty,
      s"survivor pick must ride the aggregate, not a window:\n$p")
  }

  test("q129: delta admission — anti-join against the staged verdict only") {
    // r10: admission's returned plan is DELIBERATELY lean — verification
    // ran in its own staged job, so what executes here is delta rows
    // anti-joined to the staged rejected set, nothing re-derived
    val p = plan("q129_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"admission must stay on keyed joins:\n$p")
    assert(p.contains("LeftAnti"),
      s"admission must be an anti-join against the rejected set:\n$p")
    // (FileScan locations elide long paths in the plan string — match the
    // prefix that survives truncation)
    assert(p.contains("sigstore_existing_d0"),
      s"the verdict must come from the staged store, not a re-verify:\n$p")
  }

  test("admission pair stage: capped probe bounds buckets BEFORE the shuffle") {
    // the stage that runs inside the admission job, pinned via its seam
    // (Dedup.admissionVerdict): same WindowGroupLimit contract as q121,
    // below it the semi-join that prefilters store rows to the delta's
    // buckets. Signature rows: band 0 is one shared over-cap bucket, band 1
    // a bucket per doc
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i => (i, Seq("w", s"w$i"), Seq("h1", s"h$i")))
      .toDF("doc_id", "ws", "bhs")
    val verdict = graft.operators.Dedup.admissionVerdict(
      mk(1L to 40L), mk(100L to 120L), 0.3, 10)
    verdict.collect()
    val p = verdict.queryExecution.executedPlan.toString
    assert(p.contains("row_number(), 10, Partial"),
      s"probe-side bucket cap lost its pre-shuffle bound:\n$p")
    assert(p.contains("LeftSemi"),
      s"store rows must be prefiltered to the delta's buckets:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay on the band equi-join:\n$p")
    // Jaccard binds the word-set intersection once: one occurrence in each
    // copy of the plan the string holds (AQE's final and initial plans)
    val intersects = "array_intersect".r.findAllIn(p).size
    assert(intersects <= 2,
      s"array_intersect appears $intersects times, more than once per plan copy:\n$p")
  }

  test("q130: lifecycle survivor plan reads staged labels, no re-derivation") {
    val df = run("q130_lifecycle")
    df.collect() // staging + clustering ran; finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lifecycle must stay on keyed joins:\n$p")
    assert("max_by".r.findAllIn(p).nonEmpty,
      s"survivor pick must ride the aggregate:\n$p")
    assert(p.contains("lifecycle_labels"),
      s"clusters must come from the staged propagation rounds:\n$p")
  }

  /** Runs registry query `name` on an isolated clone it listens to, and
    * returns the query's frame with the executed plans of every query the
    * registry function ran (listener managers are per session, and the
    * registry would otherwise clone one of its own; QueryExecutionListener
    * is async — poll until the count is stable).
    */
  private def observed(name: String): (DataFrame, Seq[SparkPlan]) = {
    val qs = Sessions.isolatedClone(spark)
    val seen = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    qs.listenerManager.register(l)
    try {
      val out = SparkEntry.queries(name)(qs, sfDir)
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 5 && System.nanoTime() < deadline) {
        val cur = seen.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100)
      }
      (out, seen.asScala.toSeq)
    } finally qs.listenerManager.unregister(l)
  }

  private def scans(p: SparkPlan, needle: String): Int =
    collectWithSubqueries(p) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(needle)) => f
    }.size

  test("q132: vector admission — capped cluster probe, NOT IN verdict") {
    val (df, ran) = observed("q132_vec_admission")
    val admitted = df.queryExecution.executedPlan
    // the verdict was collected inside the admission, so the admitted
    // frame is the incoming vectors under the verdict's NOT IN filter:
    // no join, and no read of the store or of staged scratch
    val notIn = collect(admitted) {
      case f: FilterExec if f.condition.find {
        case Not(_: In) | Not(_: InSet) => true
        case _ => false
      }.isDefined => f
    }
    assert(notIn.size == 1 && scans(admitted, "embeddings") == 1,
      s"admission must be one NOT IN filter over the incoming vectors:\n$admitted")
    assert(!admitted.toString.contains("LeftAnti") &&
      scans(admitted, "vecstore_existing") == 0,
      s"the admitted frame must not join or re-read the verdict's inputs:\n$admitted")
    // the verdict query read the staged delta members and the store's
    // members (the epoch append reads the staged delta only)
    assert(ran.exists(p => scans(p, "vecstore_existing_d0") > 0 &&
        scans(p, "vecstore_existing_members") > 0),
      "the verdict must come from the staged delta scratch and the store:\n" +
        ran.mkString("\n---\n"))
    // the only non-equi join is the broadcast argmax against the tiny
    // centroid table — by design (q104's assignment shape)
    assert(ran.forall(p => !p.toString.contains("CartesianProduct")),
      "cluster pairing must stay on the c_id equi-join:\n" + ran.mkString("\n---\n"))
  }

  test("engine-written sorted buckets join with ZERO shuffle exchange (SMB)") {
    // the scale contract behind smb_mapjoin/bucketmapjoin: tables the
    // ENGINE bucket-writes (hive.enforce.bucketing inserts) carry Spark
    // bucket ids, so an equi-join on the bucket key needs no exchange on
    // either side — the sort-merge runs directly over co-bucketed scans.
    // (LOADED foreign buckets are demoted to plain scans instead — see
    // HiveLoad — because neither engine can validate them; correctness
    // beats a zero-exchange plan over files Spark would silently drop.)
    operators.QFileParity.registerFixtures(spark, sfDir) // the src view
    val t1 = s"smbshape_a_${System.nanoTime()}"
    val t2 = s"smbshape_b_${System.nanoTime()}"
    for (t <- Seq(t1, t2)) {
      HiveQl.sql(spark, s"create table $t (key int, value string) " +
        "clustered by (key) sorted by (key) into 4 buckets")
      HiveQl.sql(spark, s"insert overwrite table $t " +
        "select cast(key as int), value from src")
    }
    // a side this small correctly BROADCASTS by default (the better plan);
    // pin the sort-merge leg the conf would pick on two large sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.sql(s"select a.key from $t1 a join $t2 b on a.key = b.key")
      df.collect() // materialize while the conf holds (lazy-DF lesson)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(p.contains("Bucketed: true"), s"scans must be bucketed:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    Seq(t1, t2).foreach(t => spark.sql(s"drop table $t"))
  }

  test("bucket TABLESAMPLE over loaded buckets plans as FILE pruning") {
    // sample6.q's observable semantics: loaded bucket files are selected
    // by position, visible in the plan as the input_file_name filter the
    // rewrite injects (resolveBucketFileSampling); the scan itself stays
    // a plain (demoted) file scan
    val t = s"sampleshape_${System.nanoTime()}"
    HiveQl.sql(spark, s"CREATE TABLE $t(key int, value string) CLUSTERED BY (key) " +
      "INTO 4 BUCKETS STORED AS TEXTFILE")
    for (f <- Seq("srcbucket20", "srcbucket21", "srcbucket22", "srcbucket23"))
      HiveQl.sql(spark, "load data local inpath " +
        s"'$RefData/$f.txt' INTO TABLE $t")
    val df = HiveQl.sql(spark,
      s"SELECT s.key FROM $t TABLESAMPLE (BUCKET 1 OUT OF 2 on key) s")
    // positional pruning: buckets 0 and 2 = srcbucket20 + srcbucket22. The
    // scan must READ only those two files (I/O pruning, not a row filter) —
    // at 100 TB a 1-of-2 sample that scans all 4 buckets defeats sampling.
    assert(df.inputFiles.length == 2,
      s"sampled scan must read exactly the 2 selected bucket files, " +
        s"got: ${df.inputFiles.mkString(", ")}")
    assert(df.inputFiles.forall(f =>
      f.endsWith("srcbucket20.txt") || f.endsWith("srcbucket22.txt")),
      s"wrong files selected: ${df.inputFiles.mkString(", ")}")
    assert(df.count() == 118 + 124, "file-pruned sample row count")

    // d > b shape: BUCKET 1 OUT OF 8 over 4 buckets → one file (bucket 0)
    // plus the residual hash%8 row filter on top of the pruned read
    val df8 = HiveQl.sql(spark,
      s"SELECT s.key FROM $t TABLESAMPLE (BUCKET 1 OUT OF 8 on key) s")
    assert(df8.inputFiles.length == 1,
      s"d>b sample must read 1 file: ${df8.inputFiles.mkString(", ")}")
    val p8 = df8.queryExecution.executedPlan.toString
    assert(p8.contains("hash") || p8.contains("pmod") || p8.contains("%"),
      s"d>b sample must keep the residual hash filter:\n$p8")
    spark.sql(s"drop table $t")
  }

  test("TABLESAMPLE (n PERCENT) plans as pruned FILE reads") {
    // split_sample.q's scale contract (CombineHiveInputFormat.sampleSplits):
    // a 1% sample must do ~1% of the I/O. With three equal one-file
    // partitions, 1 PERCENT reads exactly one file and 70 PERCENT reads
    // all three (cumulative 2/3 < 0.7 target) — pinned by inputFiles
    // count, not predicate presence.
    val t = s"psampleshape_${System.nanoTime()}"
    HiveQl.sql(spark,
      s"CREATE TABLE $t (key int, value string) PARTITIONED BY (p string)")
    for (p <- Seq("1", "2", "3"))
      HiveQl.sql(spark, s"INSERT OVERWRITE TABLE $t PARTITION (p='$p') " +
        "SELECT id, CAST(id AS STRING) FROM (SELECT /*+ COALESCE(1) */ " +
        "explode(sequence(1, 500)) AS id)")
    val total = HiveQl.sql(spark, s"SELECT * FROM $t").inputFiles.length
    assert(total == 3, s"fixture must be 3 one-file partitions, got $total")
    val df1 = HiveQl.sql(spark, s"SELECT key FROM $t TABLESAMPLE (1 PERCENT)")
    assert(df1.inputFiles.length == 1,
      s"1% sample must read exactly 1 of 3 files, got: ${df1.inputFiles.mkString(", ")}")
    assert(df1.count() == 500, "one whole file's rows")
    val df70 = HiveQl.sql(spark, s"SELECT key FROM $t TABLESAMPLE (70 PERCENT)")
    assert(df70.inputFiles.length == 3,
      s"70% of 3 equal files selects all 3, got: ${df70.inputFiles.mkString(", ")}")
    spark.sql(s"drop table $t")
  }

  test("q01: aggregation splits into partial + final HashAggregate") {
    val p = plan("q01_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial/final split:\n$p")
  }

  test("whole-stage codegen covers the relational hot path") {
    // AQE reveals codegen spans only in the finalized plan — execute first
    val df = run("q01_agg")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert(p.contains("*(1)") && p.contains("isFinalPlan=true"),
      s"codegen missing:\n$p")
  }
}
