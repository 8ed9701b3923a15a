package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

import graft.operators.Dedup

/** The signature-store contract for incremental delta-dedup admission
  * (VERDICT r9 #1): a delta is admitted against the STORE the last run left
  * behind — never against the corpus text — and the run returns an updated
  * store so successive deltas chain. Plus the id-order fix (ADVICE r9): a
  * delta doc is rejected on ANY verified match to the store, regardless of
  * whether its id sorts below the existing near-dup's.
  */
class IncrementalAdmitSpec extends SparkSpec {

  private def fileScans(p: SparkPlan, needle: String): Int = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan, needle)
    case q: QueryStageExec => fileScans(q.plan, needle)
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(needle))) 1 else 0
    case other =>
      (other.children ++ other.subqueries).map(fileScans(_, needle)).sum
  }

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

  /** Spark jobs started inside `body`, counted by a SparkListener on the
    * body's job group. Listener events arrive asynchronously, so a marker
    * job runs after the body: its end event is delivered after every event
    * the body's jobs posted.
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "spec_admit_jobs"
    val marker = "spec_admit_jobs_marker"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ =>
        }
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
      counted.get
    } finally sc.removeSparkListener(listener)
  }

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

    val delta = docs(100L -> perm, 101L -> third) // 100 near-dups doc 1
    val (admitted, updated) = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)
    val got = admitted.select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(101L), "the word-permuted copy must be rejected")
    assert(updated.words.count() == 3, "store update must also run corpus-free")

    // executed-plan pin (StagingSpec's 0-rescan pattern): admission is an
    // anti-join against the STAGED verdict — no corpus scan, no re-verify
    val plan = admitted.queryExecution.executedPlan
    assert(fileScans(plan, "spec_admit_corpus") == 0,
      s"admission must read the signature store, never the corpus:\n$plan")
    assert(fileScans(plan, "spec_admit_store_d0_delta_rejected") == 1,
      s"admission must anti-join the staged rejected set:\n$plan")
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
    assert(new java.io.File(dir, "durable_store_bands").isDirectory
      && new java.io.File(dir, "durable_store_words").isDirectory,
      "durable store must land at the caller's path, not the scratch root")
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
    import spark.implicits._
    // a store ~50× the delta: if the update path still rewrote the whole
    // store (the r10 union+overwrite), the admission's store write would be
    // corpus-sized and epoch-0's files would be unlinked and recreated
    val corpus = (0L until 500L).map(i =>
      (i, s"corpus doc $i " + (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-epochstore").toString
    val store = Dedup.buildSigStore(corpus.toDF("doc_id", "text"),
      "epoch_proof", baseDir = Some(dir))

    def snapshot(sub: String): Map[String, (Long, Long)] = {
      val root = new java.io.File(dir, sub)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }
    val words0 = snapshot("epoch_proof_words/epoch=0")
    val bands0 = snapshot("epoch_proof_bands/epoch=0")
    val storeBytes = words0.values.map(_._1).sum + bands0.values.map(_._1).sum

    val delta = docs(1000L -> other, 1001L -> perm) // 1001 has no store twin here
    val (admitted, updated) = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)
    assert(admitted.count() == 2)
    assert(updated.words.count() == 502)

    // 1) earlier epochs are byte-for-byte untouched: same paths, lengths,
    //    and modification times — nothing was unlinked or rewritten
    assert(snapshot("epoch_proof_words/epoch=0") == words0,
      "epoch-0 words partition must not be rewritten by an admission")
    assert(snapshot("epoch_proof_bands/epoch=0") == bands0,
      "epoch-0 bands partition must not be rewritten by an admission")
    // 2) the bytes the update DID write scale with the DELTA, not the store
    val deltaBytes = snapshot("epoch_proof_words/epoch=1").values.map(_._1).sum +
      snapshot("epoch_proof_bands/epoch=1").values.map(_._1).sum
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
    // second verdict join each come back as extra jobs and fail this pin.
    // Bound measured on this fixture: delta words write (1), verdict
    // (window, joins, write: 5), words append (verdict broadcast, write:
    // 2), bands append (1)
    val budget = 9
    val store = Dedup.buildSigStore(docs(1L -> base, 2L -> other), "spec_admit_jobs")
    val delta = docs(100L -> perm, 101L -> third)
    var admitted: org.apache.spark.sql.DataFrame = null
    val jobs = jobsIn {
      admitted = Dedup.incrementalAdmit(store, delta, 0.8, None, 16, 2)._1
    }
    assert(jobs <= budget, s"one admission ran $jobs jobs, budget $budget")
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(101L))
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
}
