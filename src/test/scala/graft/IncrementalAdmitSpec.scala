package graft

import org.apache.spark.sql.catalyst.expressions.{In, InSet, Not}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}

import graft.operators.Dedup

/** The signature-store contract for incremental delta-dedup admission
  * (VERDICT r9 #1): a delta is admitted against the STORE the last run left
  * behind — never against the corpus text — and the run returns an updated
  * store so successive deltas chain. Plus the id-order fix (ADVICE r9): a
  * delta doc is rejected on ANY verified match to the store, regardless of
  * whether its id sorts below the existing near-dup's.
  */
class IncrementalAdmitSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def fileScans(p: SparkPlan, needle: String): Int = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan, needle)
    case q: QueryStageExec => fileScans(q.plan, needle)
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(needle))) 1 else 0
    case other =>
      (other.children ++ other.subqueries).map(fileScans(_, needle)).sum
  }

  /** The filters of `p` that drop a literal id list: `NOT (id IN (...))`,
    * or its `InSet` form once the list passes Spark's conversion threshold. */
  private def notInFilters(p: SparkPlan): Int = collect(p) {
    case f: FilterExec if f.condition.find {
      case Not(_: In) | Not(_: InSet) => true
      case _ => false
    }.isDefined => f
  }.size

  // deterministic near-dups: a word-PERMUTED copy has the identical distinct
  // word set, hence the identical minhash signature (all bands agree) and
  // exact Jaccard 1.0 — no probabilistic banding in the fixture
  private val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
  private val perm = "juliet india hotel golf foxtrot echo delta charlie bravo alpha"
  private val other = "kilo lima mike november oscar papa quebec romeo sierra tango"
  private val third = "uniform victor whiskey xray yankee zulu one two three four"

  private def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `df` written to its own parquet dir and read back: a delta whose
    * plan keeps a scan and a filter (a local frame's filter folds into
    * its rows at optimization, and its collect runs no job). */
  private def onDisk(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val dir = sys.props("java.io.tmpdir") + "/" + name
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Spark jobs started inside `body` and the shuffle bytes their tasks
    * wrote, counted by a SparkListener on the body's job group. Listener
    * events arrive asynchronously, so a marker job runs after the body:
    * its end event is delivered after every event the body's jobs posted.
    */
  private def measured(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = "spec_admit_jobs"
    val marker = "spec_admit_jobs_marker"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val drained = new java.util.concurrent.CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) =>
            counted.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "admission under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job end")
      (counted.get, shuffled.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `n` docs of 30 words unique to each doc, so no two are near-dups. */
  private def corpus(n: Int): Seq[(Long, String)] =
    (0L until n.toLong).map(i =>
      (i, s"corpus doc $i " + (0 until 30).map(j => s"w${i}_$j").mkString(" ")))

  test("admission never reads existing text — the store replaces the corpus") {
    import spark.implicits._
    // the existing corpus lives in its own parquet dir so a read of it is
    // attributable — and DELETABLE: after the store is built, the corpus
    // dir is removed entirely, so ANY admission-side scan of existing text
    // (in the verify job, the store update, or the admission plan) would
    // throw FileNotFound rather than silently pass
    val corpusDir = sys.props("java.io.tmpdir") + "/spec_admit_corpus"
    docs(1L -> base, 2L -> other).write.mode("overwrite").parquet(corpusDir)
    val existing = spark.read.parquet(corpusDir)
    val store = Dedup.buildSigStore(existing, "spec_admit_store")
    val p = new org.apache.hadoop.fs.Path(corpusDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    // 100 near-dups doc 1 and 102 doc 2; two rejected ids keep the
    // verdict an IN list (Spark rewrites a one-element IN to an equality)
    val permOther = "tango sierra romeo quebec papa oscar november mike lima kilo"
    val delta = onDisk(docs(100L -> perm, 101L -> third, 102L -> permOther),
      "spec_admit_text_delta")
    val (admitted, updated) = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)
    val got = admitted.select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(101L), "the word-permuted copies must be rejected")
    assert(updated.words.count() == 3, "store update must also run corpus-free")

    // executed-plan pin (StagingSpec's 0-rescan pattern): the verdict was
    // collected during the admission, so the admitted plan is the delta
    // under a NOT IN filter — no corpus, store or scratch scan, no re-verify
    val plan = admitted.queryExecution.executedPlan
    assert(fileScans(plan, "spec_admit_corpus") == 0,
      s"admission must read the signature store, never the corpus:\n$plan")
    assert(fileScans(plan, "spec_admit_store") == 0,
      s"the admitted frame must not re-read the signature store:\n$plan")
    assert(fileScans(plan, graft.operators.Staging.scratchRoot(spark)) == 0,
      s"the admitted frame must not read staged scratch:\n$plan")
    assert(fileScans(plan, "spec_admit_text_delta") == 1 && notInFilters(plan) == 1,
      s"the admitted frame must be the delta under one NOT IN filter:\n$plan")
  }

  test("updated store chains: delta 2 is judged against delta 1's admissions") {
    val store0 = Dedup.buildSigStore(docs(1L -> base), "spec_admit_chain")
    // delta 1: novel doc 50 admitted, near-dup of doc 1 rejected
    val (adm1, store1) = Dedup.incrementalAdmit(
      store0, docs(50L -> other, 51L -> perm), 0.8, None, 16, 2)
    assert(adm1.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(50L))
    // delta 2: near-dup of DELTA-1-admitted doc 50 must reject through the
    // updated store; near-dup of the REJECTED doc 51 must NOT reject (51
    // never entered the store) unless it also matches an admitted doc —
    // third is novel, so it admits
    val permOther = "tango sierra romeo quebec papa oscar november mike lima kilo"
    val (adm2, store2) = Dedup.incrementalAdmit(
      store1, docs(60L -> permOther, 61L -> third), 0.8, None, 16, 2)
    assert(adm2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(61L),
      "delta-2's near-dup of a delta-1 admission must be rejected via the updated store")
    // the store now carries exactly the admitted corpus: 1, 50, 61
    assert(store2.words.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 50L, 61L))
  }

  test("durable store: loadSigStore reattaches at a caller-owned path and chains") {
    // production restart story: the store must OUTLIVE the application, so
    // it lives at a caller-owned dir (baseDir), not the app-scoped scratch
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    Dedup.buildSigStore(docs(1L -> base), "durable_store",
      baseDir = Some(dir))
    assert(new java.io.File(dir, "durable_store_words").isDirectory,
      "durable store must land at the caller's path, not the scratch root")
    assert(!new java.io.File(dir, "durable_store_bands").exists,
      "band hashes live in the one signature component, not a bands directory")
    // a "later run" reattaches by path alone — no docs, no prior DataFrames
    val reattached = Dedup.loadSigStore(spark, "durable_store", dir)
    val (adm, _) = Dedup.incrementalAdmit(
      reattached, docs(10L -> perm, 11L -> other), 0.8, None, 16, 2)
    assert(adm.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "admission through a reattached store must reject the stored near-dup")
    // the UPDATED store is already published back to the same durable dir
    val next = Dedup.loadSigStore(spark, "durable_store", dir)
    assert(next.words.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 11L), "the update must persist at the durable path")
  }

  test("vector store chains: a delta-1 embedding rejects its delta-2 twin") {
    import spark.implicits._
    // axis-aligned embeddings make cosine exact: scaled copies normalize to
    // the same unit vector (sim 1.0), orthogonal vectors to sim 0.0
    val ex = Array(1f, 0f, 0f)
    val ey = Array(0f, 1f, 0f)
    val ez = Array(0f, 0f, 1f)
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    val existing = vecs(0L -> ex, 1L -> ey)
    val cents = existing.selectExpr("vec_id AS c_id", "vec_normalize(embedding) AS ce")
    val store0 = Dedup.buildVecStore(existing, cents, "spec_vec_chain")
    // delta 1: 100 (ez, orthogonal to every member) admits; 101 (scaled ex,
    // normalizes to member 0's unit vector) rejects
    val (adm1, store1) = Dedup.incrementalAdmitVec(
      store0, vecs(100L -> ez, 101L -> Array(2f, 0f, 0f)), 0.9)
    assert(adm1.select("vec_id").collect().map(_.getLong(0)).toSeq == Seq(100L))
    // delta 2: 200 is a scaled twin of DELTA-1-admitted 100 — must reject
    // through the updated store; 201 sits at 45° to everything (sim 0.7071)
    val (adm2, _) = Dedup.incrementalAdmitVec(
      store1, vecs(200L -> Array(0f, 0f, 5f), 201L -> Array(1f, 1f, 0f)), 0.9)
    assert(adm2.select("vec_id").collect().map(_.getLong(0)).toSeq == Seq(201L),
      "delta-2's twin of a delta-1 admission must reject via the updated store")
  }

  test("store update writes delta-sized bytes and never rewrites earlier epochs") {
    // a store ~50× the delta: if the update path still rewrote the whole
    // store (the r10 union+overwrite), the admission's store write would be
    // corpus-sized and epoch-0's files would be unlinked and recreated
    val dir = java.nio.file.Files.createTempDirectory("graft-epochstore").toString
    val store = Dedup.buildSigStore(docs(corpus(500): _*), "epoch_proof",
      baseDir = Some(dir))

    def snapshot(sub: String): Map[String, (Long, Long)] = {
      val root = new java.io.File(dir, sub)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }
    val sigs0 = snapshot("epoch_proof_words/epoch=0")
    val storeBytes = sigs0.values.map(_._1).sum

    val delta = docs(1000L -> other, 1001L -> perm) // 1001 has no store twin here
    val (admitted, updated) = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)
    assert(admitted.count() == 2)
    assert(updated.words.count() == 502)

    // 1) earlier epochs are byte-for-byte untouched: same paths, lengths,
    //    and modification times — nothing was unlinked or rewritten
    assert(snapshot("epoch_proof_words/epoch=0") == sigs0,
      "epoch-0 signature partition must not be rewritten by an admission")
    // 2) the bytes the update DID write scale with the DELTA, not the store
    val deltaBytes = snapshot("epoch_proof_words/epoch=1").values.map(_._1).sum
    assert(deltaBytes * 5 < storeBytes,
      s"store update must be delta-sized: wrote $deltaBytes b against a $storeBytes b store")
  }

  test("compactSigStore folds epochs into one partition and preserves the corpus") {
    val store0 = Dedup.buildSigStore(docs(1L -> base), "spec_admit_compact")
    val (_, store1) = Dedup.incrementalAdmit(
      store0, docs(50L -> other), 0.8, None, 16, 2)
    val (_, store2) = Dedup.incrementalAdmit(
      store1, docs(60L -> third), 0.8, None, 16, 2)
    val compacted = Dedup.compactSigStore(store2)
    assert(compacted.words.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 50L, 60L), "compaction must preserve the member set")
    val root = new java.io.File(
      graft.operators.Staging.scratchRoot(spark) + "/spec_admit_compact_words")
    assert(root.listFiles.map(_.getName).count(_.startsWith("epoch=")) == 1,
      "compaction must leave a single epoch partition")
    // the compacted store still chains: its near-dups keep rejecting
    val (adm, _) = Dedup.incrementalAdmit(
      compacted, docs(70L -> perm), 0.8, None, 16, 2)
    assert(adm.count() == 0, "a compacted store must still reject near-dups")
  }

  test("a delta doc with a LOWER id than its existing near-dup is still rejected") {
    // ADVICE r9: the old a_id < b_id rule silently admitted this case
    val store = Dedup.buildSigStore(docs(500L -> base), "spec_admit_order")
    val (admitted, _) = Dedup.incrementalAdmit(
      store, docs(3L -> perm, 4L -> other), 0.8, None, 16, 2)
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(4L),
      "id order must not decide store-side rejection")
  }

  test("one admission runs a pinned number of jobs") {
    // the admission is bound by per-job fixed cost, not compute: a schema-
    // inference read-back, a rebalance exchange on a delta-sized write or a
    // verdict join each come back as extra jobs and fail this pin.
    // Bound measured on this fixture: delta signatures write (1), verdict
    // collection (prefilter key broadcast, delta-row broadcast, window
    // exchange, distinct exchange, result: 5), epoch append (write: 1)
    val budget = 7
    val store = Dedup.buildSigStore(docs(1L -> base, 2L -> other), "spec_admit_jobs")
    val delta = docs(100L -> perm, 101L -> third)
    var admitted: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = measured {
      admitted = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)._1
    }
    assert(jobs <= budget, s"one admission ran $jobs jobs, budget $budget")
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(101L))
  }

  test("collecting the admitted frame runs exactly one job") {
    // the verdict is already on the driver: the admitted frame is a scan
    // of the delta under a NOT IN filter, with no broadcast of the verdict
    val store = Dedup.buildSigStore(docs(1L -> base, 2L -> other), "spec_admit_collect")
    val delta = onDisk(docs(100L -> perm, 101L -> third), "spec_admit_collect_delta")
    val admitted = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)._1
    var got: Seq[Long] = Nil
    val (jobs, _) = measured {
      got = admitted.select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    assert(got == Seq(101L))
    assert(jobs == 1, s"collecting the admitted frame ran $jobs jobs")
  }

  test("a null-id delta row is kept, and an empty verdict filters nothing") {
    import spark.implicits._
    val permOther = "tango sierra romeo quebec papa oscar november mike lima kilo"
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
      df.select("doc_id").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq.sorted
    val store = Dedup.buildSigStore(docs(1L -> base, 2L -> other), "spec_admit_nulls")
    // a null id matches no verdict id, so the row is kept whatever its
    // text (here a near-dup of store doc 2), as the anti-join kept it;
    // 100 is rejected, so the verdict is not empty
    val withNull = onDisk(Seq(
        (Option.empty[Long], permOther), (Some(100L), perm), (Some(101L), third))
      .toDF("doc_id", "text"), "spec_admit_null_delta")
    val (adm1, store1) = Dedup.incrementalAdmit(store, withNull, 0.8, None, 16, 2)
    assert(ids(adm1) == Seq(None, Some(101L)))
    assert(ids(store1.words) == Seq(None, Some(1L), Some(2L), Some(101L)))
    // no delta doc near-dups anything: every row admits, unfiltered
    val fresh = "aa bb cc dd ee ff gg hh ii jj"
    val (adm2, store2) = Dedup.incrementalAdmit(store1,
      onDisk(docs(200L -> fresh, 201L -> "one two three four five six seven eight nine ten"),
        "spec_admit_empty_delta"), 0.8, None, 16, 2)
    assert(ids(adm2) == Seq(Some(200L), Some(201L)))
    assert(notInFilters(adm2.queryExecution.executedPlan) == 0,
      "an empty verdict must add no filter")
    assert(ids(store2.words) == Seq(None, Some(1L), Some(2L), Some(101L),
      Some(200L), Some(201L)))
  }

  test("over-cap bucket and both-band agreement: raw candidate rows admit the same ids") {
    // twelve store docs share one word set, so both of their bands agree
    // and each band bucket holds them all: over the default cap of 10, so
    // the probe keeps ids 1..10 only. Every candidate pair agrees on BOTH
    // bands — two raw candidate rows per pair, which the verdict's
    // distinct must fold like the old per-pair band count did
    val words = base.split(' ').toSeq
    val rotations = (1L to 12L).map(i =>
      i -> (words.drop(i.toInt % 10) ++ words.take(i.toInt % 10)).mkString(" "))
    val store = Dedup.buildSigStore(docs(rotations :+ (20L -> other): _*),
      "spec_admit_overcap")
    val permOther = "tango sierra romeo quebec papa oscar november mike lima kilo"
    val fresh = "aa bb cc dd ee ff gg hh ii jj"
    val (admitted, updated) = Dedup.incrementalAdmit(store, docs(
      0L -> perm,        // below every store id: rejected by store docs 1..9
      100L -> perm,      // rejected by the capped store docs (and by doc 0)
      101L -> third,     // novel
      102L -> permOther, // agrees on both bands with store doc 20
      103L -> "one two three four five six seven eight nine ten",
      104L -> fresh,     // novel; its delta twin 105 sorts after it
      105L -> fresh.split(' ').reverse.mkString(" ")), 0.8, None, 16, 2)
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(101L, 103L, 104L))
    assert(updated.words.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == ((1L to 12L) ++ Seq(20L, 101L, 103L, 104L)))
    assert(updated.bands.select("doc_id").distinct().collect().map(_.getLong(0))
      .sorted.toSeq == ((1L to 12L) ++ Seq(20L, 101L, 103L, 104L)),
      "the bands epoch must cover exactly the admitted docs")
  }

  test("admission shuffles delta-sized bytes whatever the store size") {
    // the same delta against a store of N and of 4N docs: the prefilter
    // keeps only the store rows of the buckets the delta touches, and
    // verification reads the word sets carried on the candidate rows, so
    // nothing store-sized crosses an exchange. Each store holds `base`,
    // which the delta's `perm` near-dups, so a touched bucket is not empty
    def shuffledBy(n: Int): (Long, Seq[Long]) = {
      val store = Dedup.buildSigStore(docs(corpus(n) :+ (100000L -> base): _*),
        s"spec_admit_flat_$n")
      var admitted: org.apache.spark.sql.DataFrame = null
      val (_, bytes) = measured {
        admitted = Dedup.incrementalAdmit(store,
          docs(200000L -> perm, 200001L -> third), 0.8, None, 16, 2)._1
      }
      (bytes, admitted.select("doc_id").collect().map(_.getLong(0)).toSeq)
    }
    val (small, admSmall) = shuffledBy(500)
    val (large, admLarge) = shuffledBy(2000)
    assert(admSmall == Seq(200001L) && admLarge == Seq(200001L))
    assert(small > 0, "the capped window and the verdict shuffle at least the delta")
    assert(large <= small * 3 / 2,
      s"admission shuffle grew with the store: $small b at 500 docs, $large b at 2000")
  }

  test("a durable store directory holds only the store after admissions") {
    // the delta stage is app-scoped scratch and the verdict is held on
    // the driver: two admissions leave nothing but the signature component
    // in the caller's directory
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore-clean").toString
    val store0 = Dedup.buildSigStore(docs(1L -> base), "clean_store", baseDir = Some(dir))
    val (adm1, store1) = Dedup.incrementalAdmit(
      store0, docs(50L -> other, 51L -> perm), 0.8, None, 16, 2)
    val (adm2, _) = Dedup.incrementalAdmit(
      store1, docs(60L -> third), 0.8, None, 16, 2)
    assert(adm1.union(adm2).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(50L, 60L))
    assert(new java.io.File(dir).list.toSeq == Seq("clean_store_words"),
      s"admission scratch leaked into the durable store directory: " +
        new java.io.File(dir).list.mkString(", "))
  }

  test("loadSigStore rejects a store in the old two-directory layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore-old").toString
    Seq((1L, Seq("alpha", "bravo"))).toDF("doc_id", "ws")
      .write.parquet(s"$dir/old_store_words/epoch=0")
    Seq((1L, 0, "h0")).toDF("doc_id", "band", "bh")
      .write.parquet(s"$dir/old_store_bands/epoch=0")
    val e = intercept[IllegalStateException](Dedup.loadSigStore(spark, "old_store", dir))
    assert(e.getMessage.contains("old_store_bands"), e.getMessage)
  }
}
