package graft.operators

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.functions._

/** Training-data deduplication + similarity-search operators (capability
  * extension beyond the reference, which has no document tooling — SURVEY.md
  * §7.2 M6). Five dedup families over `documents` and ANN search over
  * `embeddings`, each with a DuckDB oracle computing the identical algorithm.
  *
  * Scale design (100 TB posture):
  *  - signatures (minhash/simhash) are pure per-row projections via
  *    higher-order functions — no shuffle, no UDF, fully codegen'd;
  *  - candidate generation is an equi-join on (band, hash) — the inverted-
  *    index pattern — never an all-pairs cross join;
  *  - the only cross joins below are against a broadcast query set (knn) or
  *    inside an explicitly windowed doc_id subset (pair listings for the
  *    oracle), each O(n) in the big table.
  */
object Dedup extends QueryModule {

  /** Stop-shingle bound for Jaccard dedup (q51): a shingle seen in more than
    * this many documents is dropped before the inverted-index self-join,
    * capping any one shingle's candidate bucket at ~DfCap²/2 pairs.
    */
  private val JaccardDfCap = 50

  /** Fixture truncation for the O(pairs) near-dup oracles — keeps the
    * DuckDB replica tractable. The scaling rehearsal LIFTS these bounds
    * (`graft.rehearsal.unbounded=true`) so grown fixtures actually enter
    * the operator under test: a bound that also filtered the replicas
    * would make every rehearsal row measure a constant-size query (the
    * round-6 §6.10 rows for q51/q52/q53/q86 did exactly that — their
    * α ≈ 0 was the bound, not the algorithm; SURVEY carries the corrected
    * unbounded numbers from round 7 on).
    */

  /** Bucket cap for the near-dup PAIR operators, resolved: an explicit
    * argument wins, else 10; a value <= 0 disables the cap. The cap is ON
    * BY DEFAULT because the
    * uncapped pair-list contract is quadratic in duplicate-group size BY
    * CONSTRUCTION — at the 30× rehearsal the uncapped minhash operator
    * measured α ≈ 1.86 and 747 s with spill-retry instability (SURVEY
    * §6.10); the capped plans hold α ≤ 0.3 at the same point. Production
    * entry points get the bounded plan; opting out is a deliberate,
    * fixture-scale act.
    */
  private def resolvedCap(cap: Option[Int]): Int = cap.getOrElse(10)

  /** MinHash-LSH candidate pairs over `docs(doc_id, text)`: per-doc
    * `numHashes` MinHash signature (native minhash_sig kernel), banded into
    * `numBands` md5 band hashes, candidates = equi-join on (band, bh),
    * output one row per pair with `n_bands` = number of agreeing bands.
    *
    * CAPPED BY DEFAULT (see [[resolvedCap]]): bucket membership is bounded
    * to the `cap` lowest doc_ids per (band, bh) — deterministic, so an
    * oracle can replicate the selection (QUALIFY row_number() <= cap), and
    * compiled to Partial+Final WindowGroupLimit, so map tasks bound buckets
    * BEFORE the shuffle (PlanShapeSpec). Pairs the cap drops are members of
    * over-full buckets — near-identical by construction (a full minhash
    * band in common), the regime exact/normalized dedup (q50/q118) clears
    * first in a real pipeline. `cap = Some(0)` restores the unbounded
    * pair-list contract: correct, oracled (q52), and measured quadratic —
    * 747 s / α 1.86 / spilling at the 30× rehearsal (SURVEY §6.10). Do not
    * ship it against a corpus.
    */
  /** Banded MinHash signatures for `docs(doc_id, text)`: one row per
    * (doc_id, band, bh). Factored out of [[minhashPairs]] (r9) so
    * incremental admission can stage the EXISTING corpus' bands as a
    * signature store and hash only the incoming delta.
    */
  def minhashBands(docs: org.apache.spark.sql.DataFrame, numHashes: Int = 16,
      numBands: Int = 2): org.apache.spark.sql.DataFrame =
    bandsFromWords(
      wordsOf(docs).transform(Sizing.spreadForCompute),
      numHashes, numBands)

  /** `(doc_id, ws)` word-set projection — the ONLY place admission-side
    * operators touch `text`; everything downstream (signatures, bands,
    * exact-Jaccard verification) derives from `ws`, which is what lets a
    * [[SigStore]] replace the corpus entirely.
    */
  def wordsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.selectExpr("doc_id", "array_distinct(split(lower(text), ' ')) AS ws")

  /** `(doc_id, ws, bhs)` from a `(doc_id, ws)` word-set frame: `bhs` holds
    * the `numBands` md5 band hashes of the word set's `numHashes`-value
    * MinHash signature (band j hashes values j·r+1 .. (j+1)·r, r =
    * numHashes / numBands, joined by ','). The signature is bound once, as
    * the argument of a one-element `transform`: computed in one projection
    * and read in the next, CollapseProject would inline `minhash_sig` into
    * the per-band lambda and evaluate it once per band.
    */
  private def signaturesOf(words: org.apache.spark.sql.DataFrame, numHashes: Int = 16,
      numBands: Int = 2): org.apache.spark.sql.DataFrame = {
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must divide into numBands ($numBands)")
    val rows = numHashes / numBands
    words.selectExpr("doc_id", "ws",
      s"""transform(array(minhash_sig(ws, $numHashes)),
           sig -> transform(sequence(0, ${numBands - 1}),
             j -> md5(array_join(transform(slice(sig, j * $rows + 1, $rows),
                                           v -> cast(v AS string)), ','))))[0] AS bhs""")
  }

  /** One `(<cols>, band, bh)` row per band hash of a `(doc_id, ws, bhs)`
    * frame; `cols` are select expressions over it.
    */
  private def bandRows(sigs: org.apache.spark.sql.DataFrame,
      cols: String*): org.apache.spark.sql.DataFrame =
    sigs.selectExpr(cols :+ "posexplode(bhs) AS (band, bh)": _*)

  /** Banded MinHash signatures from a `(doc_id, ws)` word-set frame. */
  def bandsFromWords(words: org.apache.spark.sql.DataFrame, numHashes: Int = 16,
      numBands: Int = 2): org.apache.spark.sql.DataFrame =
    bandRows(signaturesOf(words, numHashes, numBands), "doc_id")

  def minhashPairs(docs: org.apache.spark.sql.DataFrame, numHashes: Int = 16,
      numBands: Int = 2, cap: Option[Int] = None): org.apache.spark.sql.DataFrame =
    cappedBandPairs(minhashBands(docs, numHashes, numBands),
      resolvedCap(cap))

  /** Candidate pairs from a banded signature frame `(doc_id, band, bh)`:
    * bucket membership capped to the `c` lowest doc_ids (WindowGroupLimit —
    * bounded BEFORE the shuffle), then the bucket self-join. Shared by
    * [[minhashPairs]] (bands from raw text) and [[nearDupLifecycle]]
    * (bands from the staged word store).
    */
  private def cappedBandPairs(bands: org.apache.spark.sql.DataFrame,
      c: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept =
      if (c <= 0) bands
      else bands
        .withColumn("mrk", row_number().over(
          Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))))
        .filter(col("mrk") <= c)
        .select(col("doc_id"), col("band"), col("bh"))
    val a = kept.toDF("a_id", "band", "bh")
    val b = kept.toDF("b_id", "band", "bh")
    a.join(b, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact-similarity VERIFICATION of LSH candidate pairs — the standard
    * stage between candidate generation ([[minhashPairs]]/[[simhashPairs]])
    * and acceptance: each (a_id, b_id) joins back to the corpus and the
    * EXACT word-set Jaccard decides, so banding false positives (incidental
    * band collisions) cannot reach the accept set. Output keeps the pair
    * frame's own columns (`n_bands`, when the generator counted bands)
    * alongside `jaccard` for recall diagnostics.
    *
    * Scale posture: two co-keyed shuffle equi-joins (pairs×corpus on a_id,
    * then on b_id) — AQE broadcasts the pair side while it is small, and
    * with the capped candidate generators the pair side is bounded
    * C(cap,2)/bucket, so this stage is LINEAR in candidates; word arrays
    * never pairwise-materialize outside their join row.
    */
  def verifyPairs(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      threshold: Double): org.apache.spark.sql.DataFrame =
    verifyPairsW(wordsOf(docs), pairs, threshold)

  /** As [[verifyPairs]], over a pre-computed `(doc_id, ws)` frame, where
    * existing word sets come from staged parquet and the raw text is never
    * rescanned.
    */
  def verifyPairsW(words: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      threshold: Double): org.apache.spark.sql.DataFrame =
    pairs
      .join(words.toDF("a_id", "wa"), Seq("a_id"))
      .join(words.toDF("b_id", "wb"), Seq("b_id"))
      .select(pairs.columns.map(col) :+ jaccard.as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)

  /** Exact Jaccard of the word sets `wa` and `wb`. Hive `/` is double
    * division (session coercion), mirroring q51's raw-ratio-then-round-once
    * FP discipline. The intersection size is bound once, as the argument of
    * a one-element `transform` (the [[signaturesOf]] idiom): spelled out,
    * the ratio and `round`'s NaN/Infinity guard each evaluate it again.
    */
  private def jaccard: org.apache.spark.sql.Column =
    expr("transform(array(size(array_intersect(wa, wb))), " +
      "i -> round(i / (size(wa) + size(wb) - i), 6))[0]")

  /** The persisted artifact a delta-dedup run leaves behind for the next
    * one: one signature row `(doc_id, ws, bhs)` per admitted doc — its word
    * set (what verification reads) and its `numBands` band hashes (what the
    * candidate probe reads), as parquet under the staging scratch root or a
    * caller-owned `baseDir`. Admission against a 100 TB corpus reads THESE,
    * never the corpus text. `name` scopes the store directory, so
    * successive deltas chain against the same store.
    *
    * LAYOUT: ONE epoch-partitioned directory, `<name>_words/epoch=N/`, one
    * partition per admission call, bootstrap = epoch 0. An admission
    * APPENDS only the admitted delta's rows as a new epoch partition
    * ([[Staging.appendEpoch]]) and the store reads as the union of
    * partitions, so the update costs I/O proportional to the DELTA: the
    * corpus-scale store is never rewritten. This is the reference's own
    * incremental contract — `ALTER TABLE ADD PARTITION` (metastore
    * Warehouse.java partition-add path) appends a partition without
    * touching its siblings. Fragmentation from many small epochs is
    * repaired out-of-band by [[compactSigStore]]. (Stores written in the
    * older two-directory layout, `<name>_words` + `<name>_bands`, are not
    * read: [[loadSigStore]] rejects them.)
    *
    * `words` `(doc_id, ws)` and `bands` `(doc_id, band, bh)` are views of
    * the one frame.
    *
    * `epoch` numbers the admission calls chained through this store: each
    * delta's scratch artifact (its staged signatures) stages in the
    * app-scoped scratch under an epoch-scoped name (`<name>_d<epoch>_*`),
    * so the NEXT admit on the chain never clobbers files a still-lazy
    * frame from the PREVIOUS admit reads, and a store name must be unique
    * within an application. The rejected verdict is no scratch artifact:
    * it is held on the driver ([[incrementalAdmit]]). Each
    * admission's store append lands under `epoch=N`, never touching
    * earlier partitions, so a previously returned SigStore's DataFrames (a
    * snapshot of the partitions that existed at its epoch) stay valid
    * forever.
    */
  final case class SigStore(name: String,
      sigs: org.apache.spark.sql.DataFrame,
      baseDir: Option[String] = None,
      epoch: Long = 0L) {
    def words: org.apache.spark.sql.DataFrame = sigs.select(col("doc_id"), col("ws"))
    def bands: org.apache.spark.sql.DataFrame = bandRows(sigs, "doc_id")
  }

  /** Directory of one store component (`words`/`members`/`centroids`): a
    * caller-owned DURABLE directory when `baseDir` is set — the production
    * posture, since a store that evaporates with the application defeats
    * "the store the last run left behind" — else the app-scoped staging
    * scratch (tests, single-run pipelines). [[loadSigStore]] reattaches to
    * a durable store in a later application.
    */
  private def storePath(s: org.apache.spark.sql.SparkSession, name: String,
      baseDir: Option[String]): String =
    baseDir.getOrElse(Staging.scratchRoot(s)) + "/" + name

  /** The union-of-epoch-partitions read of a store component, with the
    * component's KNOWN data schema (no footer-inference job; why that is
    * safe: [[Staging]]). Partition discovery adds the `epoch` column;
    * downstream operators see only the data columns (their unions are
    * positional). The file listing is snapshotted at read time, so a
    * store's DataFrames pin the partitions of THEIR epoch — later
    * appends are invisible to earlier snapshots by construction.
    */
  private def readEpochs(s: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    s.read.schema(schema).parquet(dir).select(schema.fieldNames.map(col): _*)

  /** Append one epoch partition to a store component; returns a scan of
    * the new partition ([[Staging.appendEpoch]]).
    */
  private def appendStore(df: org.apache.spark.sql.DataFrame, name: String,
      baseDir: Option[String], epoch: Long): org.apache.spark.sql.DataFrame =
    Staging.appendEpoch(df,
      storePath(df.sparkSession, name, baseDir), epoch,
      appScratch = baseDir.isEmpty)

  /** The directory name of a [[SigStore]]'s one component. */
  private def sigDir(name: String): String = s"${name}_words"

  /** Bootstrap a [[SigStore]] from a deduped corpus — the ONE full scan of
    * `docs.text` in the store's lifetime. One write: the corpus'
    * signature rows as epoch 0.
    */
  def buildSigStore(docs: org.apache.spark.sql.DataFrame, name: String,
      numHashes: Int = 16, numBands: Int = 2,
      baseDir: Option[String] = None): SigStore = {
    val s = docs.sparkSession
    val sigs0 = appendStore(
      signaturesOf(wordsOf(docs.transform(Sizing.spreadForCompute)),
        numHashes, numBands),
      sigDir(name), baseDir, 0L)
    SigStore(name,
      readEpochs(s, storePath(s, sigDir(name), baseDir), sigs0.schema),
      baseDir)
  }

  /** Reattach to a DURABLE [[SigStore]] a previous application left at
    * `baseDir` — the restart half of the production delta loop: bootstrap
    * once with `buildSigStore(..., baseDir = Some(dir))`, then every later
    * run loads the store, admits its delta, and the updated store is
    * already published back to the same dir. Reads the one directory
    * `<name>_words`; the one store read that INFERS its schema (once per
    * application): every later read of the store pins the schema found
    * here. A store in the older two-directory layout (rows without `bhs`,
    * band rows under `<name>_bands`) fails here: there is no migration,
    * rebuild it with [[buildSigStore]].
    */
  def loadSigStore(spark: org.apache.spark.sql.SparkSession, name: String,
      baseDir: String): SigStore = {
    val dir = s"$baseDir/${sigDir(name)}"
    val sigs = spark.read.parquet(dir)
    if (!sigs.columns.contains("bhs"))
      throw new IllegalStateException(
        s"$dir holds no bhs column: it is a signature store in the old " +
          s"two-directory layout (${sigDir(name)} + ${name}_bands), which " +
          "is no longer read; rebuild it with buildSigStore")
    SigStore(name, sigs.select(col("doc_id"), col("ws"), col("bhs")),
      Some(baseDir), epoch = math.max(0L, Staging.maxEpoch(spark, dir)))
  }

  /** The rejection verdict of admission, exposed for the executed-plan pin
    * (PlanShapeSpec): the distinct ids of delta docs in `inSigs` that an
    * exact-Jaccard-verified candidate pair links to a doc of `storeSigs`
    * or to an earlier doc of the delta. Both inputs are `(doc_id, ws,
    * bhs)` signature frames.
    *
    *  1. PREFILTER: the store's band rows are semi-joined to the
    *     `(band, bh)` keys the delta touches — a broadcast of the delta's
    *     keys, so no store row outside a touched bucket is shuffled.
    *  2. PROBE: prefiltered store rows ∪ delta rows, each carrying its word
    *     set, capped to the `c` lowest doc_ids per `(band, bh)`
    *     (WindowGroupLimit — bounded BEFORE the shuffle).
    *  3. The kept rows join the delta rows on `(band, bh)`; store→delta
    *     pairs reject in ANY id order (ADVICE r9 — a delta doc whose id
    *     sorts below its existing near-dup is still rejected) while
    *     a_id < b_id orders intra-delta pairs — deterministic,
    *     oracle-replicable. Exact Jaccard is computed on the candidate row
    *     itself, from the two carried word sets: there is no verification
    *     join back to the store.
    *
    * The prefilter leaves the capped membership unchanged: the window
    * partitions by `(band, bh)` and the semi-join keeps EVERY store row of
    * each bucket the delta touches, so each such bucket ranks the same
    * members; buckets the delta does not touch yield no pairs anyway.
    */
  private[graft] def admissionVerdict(storeSigs: org.apache.spark.sql.DataFrame,
      inSigs: org.apache.spark.sql.DataFrame, threshold: Double,
      c: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inBands = bandRows(inSigs, "doc_id AS b_id", "ws AS wb")
    val probe = bandRows(storeSigs, "doc_id AS a_id", "ws AS wa", "'E' AS origin")
      .join(inBands, Seq("band", "bh"), "left_semi")
      .unionByName(bandRows(inSigs, "doc_id AS a_id", "ws AS wa", "'I' AS origin"))
    val kept =
      if (c <= 0) probe
      else probe
        .withColumn("mrk", row_number().over(
          Window.partitionBy(col("band"), col("bh")).orderBy(col("a_id"))))
        .filter(col("mrk") <= c)
    kept.join(inBands, Seq("band", "bh"))
      .filter(when(col("origin") === "E", col("a_id") =!= col("b_id"))
        .otherwise(col("a_id") < col("b_id")) && jaccard >= threshold)
      .select(col("b_id").as("doc_id")).distinct()
  }

  /** The verdict step both store-backed admissions share: collects the
    * one-column `verdict` (distinct rejected ids, at most one per delta
    * row) once, and returns the filter that drops those ids from a frame
    * keyed by `key` — a `NOT IN` over literals (an `InSet` once the list
    * is long), with no join and no job of its own. Null ids are dropped
    * from the list (one null in an `IN` list makes every non-matching
    * row's predicate NULL), and a row whose own key is null is kept, as
    * the left-anti join it replaces kept it. An empty verdict filters
    * nothing.
    */
  private def rejecting(verdict: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val ids = verdict.collect().map(_.get(0)).filter(_ != null)
    if (ids.isEmpty) identity
    else _.filter(col(key).isNull || !col(key).isin(ids.toIndexedSeq: _*))
  }

  /** Incremental near-dup ADMISSION against a pre-staged [[SigStore]] — the
    * production delta-dedup loop: only the incoming delta is hashed; the
    * existing corpus is represented ENTIRELY by the store (zero scans of
    * existing text — IncrementalAdmitSpec pins the executed plan). Returns
    * `(admitted, updatedStore)`: the updated store carries the admitted
    * docs' signature rows APPENDED as a new `epoch=N` partition — existing
    * partitions are untouched, the update writes delta-sized bytes only —
    * so successive deltas chain with no rebuild.
    *
    * An incoming doc is rejected when an exact-Jaccard-verified candidate
    * pair links it to a store doc (ANY id order) or to an earlier member of
    * the same delta ([[admissionVerdict]]). Candidate buckets on the probe
    * side are capped like [[minhashPairs]]; the incoming side is never
    * capped — every delta doc must be judged. Doc ids must be unique across
    * store + delta (append-only corpus ids).
    *
    * COST: O(delta) shuffle. Only the store rows of the buckets the delta
    * touches cross an exchange (the prefilter), and verification reads the
    * word sets carried on the candidate rows, so no store-sized join runs.
    * The store's parquet is still scanned once per admission. The verdict
    * is collected to the driver once ([[rejecting]]): at most one id per
    * REJECTED delta doc, so the driver holds O(delta) ids, never anything
    * store-sized.
    *
    * JOB BUDGET: the admission is bound by per-job fixed cost (scheduling,
    * AQE re-planning and the driver gap around each job), not by compute,
    * so it runs only the jobs its result needs — seven per call on
    * IncrementalAdmitSpec's fixture, which pins the count, plus one for
    * the caller's collection of `admitted`: the delta stage (one write: the
    * delta's signatures are computed once, here), the verdict's collection
    * (five: the prefilter's broadcast of the delta's keys, the broadcast of
    * the delta rows the candidates join, the capped window's exchange, the
    * distinct's exchange and the result) and the epoch append (one write).
    * Both consumers of the verdict, the append's input and `admitted`,
    * filter on the collected ids, a `NOT IN` in the stage that scans
    * them, with no join and no job. What keeps it there: every staged
    * copy and store read is schema-pinned (no inference job — see
    * [[Staging]]), every write follows Staging's shared size rule (a
    * delta-sized write is one file with no rebalance exchange), and one
    * append publishes words and band hashes together.
    *
    * The delta stage lives in the app-scoped scratch ([[Staging.stage]])
    * even for a durable store: the durable directory receives only the
    * epoch append.
    */
  def incrementalAdmit(store: SigStore,
      incoming: org.apache.spark.sql.DataFrame, threshold: Double,
      cap: Option[Int], numHashes: Int,
      numBands: Int): (org.apache.spark.sql.DataFrame, SigStore) = {
    val s = incoming.sparkSession
    // delta scratch names are EPOCH-scoped (see SigStore): the next admit
    // in the chain must not replace files this call's lazy results read
    val ep = s"${store.name}_d${store.epoch}"
    val inSigs = Staging.stage(
      signaturesOf(wordsOf(incoming.transform(Sizing.spreadForCompute)),
        numHashes, numBands),
      s"${ep}_delta_sigs")
    val admit = rejecting(
      admissionVerdict(store.sigs, inSigs, threshold, resolvedCap(cap)), "doc_id")
    // store update = APPEND the admitted delta's rows as a new epoch
    // partition — existing epochs are never read or rewritten, so the
    // update's I/O is proportional to the delta (IncrementalAdmitSpec pins
    // bytes-written and the untouched epoch-0 files)
    val newEpoch = store.epoch + 1
    appendStore(admit(inSigs), sigDir(store.name), store.baseDir, newEpoch)
    (admit(incoming),
      store.copy(
        sigs = readEpochs(s, storePath(s, sigDir(store.name), store.baseDir),
          store.sigs.schema),
        epoch = newEpoch))
  }

  /** Out-of-band maintenance for an epoch-partitioned [[SigStore]]: fold
    * every epoch of its one directory into a single fresh partition (one
    * read of the store, one write, published write-audit-then-swap). Run
    * it OPPORTUNISTICALLY — e.g. when [[Staging.maxEpoch]] says hundreds of
    * delta partitions have accumulated — exactly like
    * [[graft.sources.Compaction]] repairs small-file sprawl; admissions
    * themselves never pay this cost. The compacted store keeps the same
    * epoch counter so chained scratch names never collide with the
    * pre-compaction run's.
    */
  def compactSigStore(store: SigStore): SigStore = {
    val s = store.sigs.sparkSession
    val dir = storePath(s, sigDir(store.name), store.baseDir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Swap via rename (ADVICE r11): the replacement root is FULLY built at a
    // sibling path before the live root is touched, so no crash window
    // leaves the store absent with nothing recoverable on disk — a crash
    // between the two renames leaves <dir>__old (the complete
    // pre-compaction store) and <dir>__next (the complete compacted one)
    // both intact.
    val next = new org.apache.hadoop.fs.Path(dir + "__next")
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    fs.delete(next, true); fs.delete(old, true)
    Staging.appendEpoch(readEpochs(s, dir, store.sigs.schema), next.toString,
      store.epoch, appScratch = store.baseDir.isEmpty)
    if (!fs.rename(root, old))
      throw new IllegalStateException(
        s"compaction swap: could not move $root aside")
    if (!fs.rename(next, root)) {
      fs.rename(old, root) // restore the pre-compaction store
      throw new IllegalStateException(s"compaction swap failed for $root")
    }
    fs.delete(old, true)
    store.copy(sigs = readEpochs(s, dir, store.sigs.schema))
  }

  /** Convenience bootstrap form (and the q129 oracle surface): one-shot
    * judgment of `incoming` against `existing`, by the same verdict as the
    * store overload ([[admissionVerdict]]). Only the delta's signatures
    * stage — they feed the prefilter keys, the probe and the candidate
    * join; the existing side's signatures have the probe as their single
    * consumer and stay lazy, as does the verdict, and no store is
    * materialized or updated (this form discards it — the r11 idle A/B
    * caught the bootstrap path paying the chaining overload's store writes
    * for a result nobody read). Production deltas call the store overload
    * so the corpus is never re-hashed.
    */
  def incrementalAdmit(existing: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame, threshold: Double,
      cap: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val exSigs = signaturesOf(wordsOf(existing.transform(Sizing.spreadForCompute)))
    val inSigs = Staging.stage(
      signaturesOf(wordsOf(incoming.transform(Sizing.spreadForCompute))),
      "sigstore_existing_d0_delta_sigs")
    incoming.join(admissionVerdict(exSigs, inSigs, threshold, resolvedCap(cap)),
      Seq("doc_id"), "left_anti")
  }

  // ---- Embedding-side incremental admission (the SemDeDup delta shape) --

  /** The EMBEDDING analogue of [[SigStore]]: broadcast-sized normalized
    * centroids plus the normalized member vectors per cluster — everything
    * embedding-space delta admission needs, staged so the existing corpus'
    * embeddings are never rescanned. Same durable/epoch contract as
    * [[SigStore]].
    */
  final case class VecStore(name: String,
      centroids: org.apache.spark.sql.DataFrame, // (c_id, ce)
      members: org.apache.spark.sql.DataFrame, // (vec_id, c_id, ne)
      baseDir: Option[String] = None,
      epoch: Long = 0L)

  /** Nearest-centroid assignment by map-side argmax against broadcast
    * centroids — q104/q116's assignment stage over arbitrary inputs.
    * `vecs` is `(vec_id, embedding)`; output `(vec_id, c_id, ne)`.
    */
  private def assignToCentroids(vecs: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs
      .transform(Sizing.spreadForCompute)
      .selectExpr("vec_id", "vec_normalize(embedding) AS ne")
      .crossJoin(broadcast(centroids))
      .selectExpr("vec_id", "ne", "c_id", "round(vec_dot(ne, ce), 6) AS csim")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("c_id"), col("ne"))
  }

  /** Bootstrap a [[VecStore]]: centroids (caller-trained, e.g. a staged
    * k-means round — q105/q117; must be `(c_id, ce)` with `ce` normalized)
    * plus the existing corpus assigned to them. One scan of the corpus
    * embeddings, ever.
    */
  def buildVecStore(existing: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame, name: String,
      baseDir: Option[String] = None): VecStore = {
    val s = existing.sparkSession
    val cents = baseDir.fold(Staging.stage(centroids, s"${name}_centroids"))(
      b => Staging.stageAt(centroids, s"$b/${name}_centroids"))
    val members0 = appendStore(assignToCentroids(existing, cents),
      s"${name}_members", baseDir, 0L)
    VecStore(name, cents,
      readEpochs(s, storePath(s, s"${name}_members", baseDir), members0.schema),
      baseDir)
  }

  /** Incremental EMBEDDING near-dup admission — SemDeDup's nightly-delta
    * shape: delta vectors are normalized once, assigned to the store's
    * broadcast centroids (clusters ARE the candidate buckets, so no
    * all-pairs anything), and compared by exact cosine against the
    * cluster's members — store members in ANY id order, earlier delta
    * members by a_id < b_id, the same admission rule as the text side.
    * Probe-side cluster membership is capped ([[resolvedCap]], q119's
    * bound: the `cap` lowest vec_ids per cluster — deterministic, so the
    * DuckDB oracle replicates the selection); the delta side is never
    * capped. Returns `(admitted, updatedStore)`; deltas chain exactly like
    * [[incrementalAdmit]].
    */
  def incrementalAdmitVec(store: VecStore,
      incoming: org.apache.spark.sql.DataFrame, threshold: Double,
      cap: Option[Int] = None): (org.apache.spark.sql.DataFrame, VecStore) = {
    import org.apache.spark.sql.expressions.Window
    val s = incoming.sparkSession
    val ep = s"${store.name}_d${store.epoch}"
    // delta scratch stays app-scoped even for a durable store, as in
    // [[incrementalAdmit]]
    val inAssigned = Staging.stage(assignToCentroids(incoming, store.centroids),
      s"${ep}_delta_members")
    val probe = store.members.withColumn("origin", lit("E"))
      .union(inAssigned.withColumn("origin", lit("I")))
    val c = resolvedCap(cap)
    val kept =
      if (c <= 0) probe
      else probe
        .withColumn("mrk", row_number().over(
          Window.partitionBy(col("c_id")).orderBy(col("vec_id"))))
        .filter(col("mrk") <= c)
        .select(col("vec_id"), col("c_id"), col("ne"), col("origin"))
    val admit = rejecting(
      kept.toDF("a_id", "c_id", "na", "origin")
        .join(inAssigned.toDF("b_id", "c_id", "nb"), Seq("c_id"))
        .filter(when(col("origin") === "E", col("a_id") =!= col("b_id"))
          .otherwise(col("a_id") < col("b_id")))
        .selectExpr("b_id", "round(vec_dot(na, nb), 4) AS sim")
        .filter(col("sim") >= threshold)
        .select(col("b_id").as("vec_id")).distinct(),
      "vec_id")
    // same append-only update as [[incrementalAdmit]]: only the admitted
    // delta's assignments land, as a fresh epoch partition
    val newEpoch = store.epoch + 1
    appendStore(admit(inAssigned), s"${store.name}_members", store.baseDir, newEpoch)
    val newMembers = readEpochs(s, storePath(s, s"${store.name}_members", store.baseDir),
      store.members.schema)
    (admit(incoming),
      VecStore(store.name, store.centroids, newMembers, store.baseDir,
        newEpoch))
  }

  /** The FULL batch near-dup lifecycle as one composed operator — what a
    * user actually ships: capped MinHash-LSH candidates ([[minhashPairs]])
    * → exact-Jaccard verification ([[verifyPairsW]]) → connected components
    * over the VERIFIED edges only ([[propagateComponents]]) → per-cluster
    * survivor selection (q126's max_by shape). Output: one row per cluster
    * with its size, survivor, and max quality.
    *
    * Stage boundaries: words stage once (text read once, all downstream
    * derives from `ws`); verified edges stage before clustering (the
    * iterative loop must not re-run candidate generation per superstep).
    * Versus running the stages separately: one text scan instead of three,
    * and clustering touches only verified edges — strictly fewer and
    * cleaner-than-band edges.
    */
  def nearDupLifecycle(docs: org.apache.spark.sql.DataFrame,
      threshold: Double, cap: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val words = Staging.stage(
      wordsOf(docs.transform(Sizing.spreadForCompute)),
      "lifecycle_words")
    val cands = cappedBandPairs(bandsFromWords(words), resolvedCap(cap))
    val verified = Staging.stage(
      verifyPairsW(words, cands, threshold).select(col("a_id"), col("b_id")),
      "lifecycle_verified")
    val clusters = propagateComponents(
      docs.select(col("doc_id")), verified, "lifecycle_labels")
    docs.selectExpr("doc_id", "size(split(text, ' ')) AS n_tokens")
      .join(clusters, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        expr("max_by(doc_id, struct(n_tokens, -doc_id))").as("survivor_id"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Near-dup CLUSTER assignment (connected components) over
    * `docs(doc_id, text)`: every doc gets the min doc_id of its connected
    * component over minhash band edges — iterative min-label propagation,
    * the Pregel superstep pattern, with labels checkpointed via staged
    * scratch writes and convergence read from an observe() metric of the
    * write job itself (one job per round). Public API since r9 so
    * downstream stages (q126 survivor selection) compose with it; q86
    * oracles it against a recursive-CTE closure.
    */
  def clusterAssign(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = bandRows(
      signaturesOf(wordsOf(docs.transform(Sizing.spreadForHeavyCompute))), "doc_id")
    // STAR edges, not all-pairs: connected components only needs
    // CONNECTIVITY, and every member of a band bucket is reachable
    // through the bucket's min-id hub — identical clusters, O(bucket)
    // edges instead of O(bucket²). The unbounded 10× rehearsal showed
    // why: duplicate-heavy buckets grow linearly with corpus scale, so
    // their all-pairs edge lists grow quadratically (α 1.22 measured);
    // star edges restore a linear edge count. hubs join is on the same
    // (band, bh) key the groupBy just shuffled — co-partitioned.
    val hubs = bands.groupBy(col("band"), col("bh"))
      .agg(min(col("doc_id")).as("a_id"))
    val pairs = bands.toDF("b_id", "band", "bh")
      .join(hubs, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    propagateComponents(docs.select(col("doc_id")), pairs, "q86_labels")
  }

  /** Connected-components MIN-LABEL propagation over explicit undirected
    * edges `pairs(a_id, b_id)` — the superstep loop factored out of
    * [[clusterAssign]] (r10) so pipelines can cluster over VERIFIED pair
    * sets (q130 lifecycle: exact-Jaccard-accepted edges), not just raw band
    * buckets. `ids` is one row per doc (`doc_id`); every doc gets the min
    * doc_id of its component as `cluster` (singletons label themselves).
    * `stageName` scopes the per-round staged label checkpoints.
    */
  def propagateComponents(ids: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      stageName: String): org.apache.spark.sql.DataFrame = {
    val s = ids.sparkSession
    // the cached edge table is re-scanned TWICE PER ROUND for up to 64
    // rounds; its natural partitioning (union of two shuffle outputs =
    // 2 × shuffle.partitions) makes every superstep a 64-task stage even
    // when the edges are KB-scale — pure per-task fixed cost (q86
    // profile: 64t stages, ~50 ms/task overhead). Right-size the cache
    // by the optimizer's estimate; over-estimates just keep the wide
    // layout, so a corpus-scale edge set never loses parallelism.
    val edges0 = pairs.select(col("a_id"), col("b_id"))
      .union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
    val edgeParts = {
      val b = Sizing.planBytes(edges0)
      val dp = s.sparkContext.defaultParallelism
      if (b < 0) dp
      else math.max(1L, math.min(dp.toLong,
        (b + (8L << 20) - 1) / (8L << 20))).toInt
    }
    val edges = edges0.coalesce(edgeParts).cache()
    // one propagation superstep. The labels table is CORPUS-SIZED (one
    // row per doc), so neither join is hinted — AQE broadcasts while
    // labels are small and falls back to hash-partitioned joins when
    // they aren't (a forced broadcast here held ~6M hashed label rows
    // per superstep at the unbounded 10× rehearsal and ran the driver
    // out of heap). The moved flag rides along so convergence costs no
    // extra join.
    def propagate(ls: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val nbrMin = edges
        .join(ls.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      ls.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"),
          (coalesce(col("nbr_label"), col("label")) < col("label"))
            .as("moved"))
    }
    var labels = ids.select(col("doc_id"), col("doc_id").as("label"))
    var changed = 1L
    var iter = 0
    // min-label propagation needs ≤ diameter supersteps; 64 rounds = 128
    // supersteps covers any plausible near-dup component. If a
    // pathological chain still hasn't converged, FAIL rather than return
    // partial labels — the recursive-CTE oracle computes the full
    // closure, so a silent early exit would surface only as an
    // unexplained mismatch at scale.
    val maxRounds = 64
    // Every round is staged. Staging (not cache) cuts the LOGICAL plan at
    // the stage boundary, the Pregel checkpoint posture: the lazy form's
    // plan tree quadrupled per round (each superstep references `labels`
    // twice) and OOMed the driver at the unbounded 10× rehearsal (SURVEY
    // §6.10). Staging every other round was 1.9× slower (SURVEY §6.12):
    // the unstaged round's convergence count executes its supersteps and
    // the next staged round recomputes them inside its deeper plan.
    Observed.ensureListener(s)
    while (changed > 0 && iter < maxRounds) {
      // two supersteps per scheduler round trip; the fixpoint test is
      // sound on the SECOND step alone (if it moved nothing, the first
      // step's output was already stable). Measured: three supersteps
      // per round is ~2.5× SLOWER — the deeper per-round plan costs
      // more in codegen/planning than the saved actions. Each round is
      // ONE job: the convergence check is fused into the scratch write
      // via observe() (the mover count arrives as an observed metric of
      // the write job itself — no second action over the staged output).
      val cur = propagate(propagate(labels).drop("moved"))
      val obs = Observed.freshName(s"${stageName}_conv")
      val staged = Staging.stage(
        cur.observe(obs,
          coalesce(sum(when(col("moved"), 1L).otherwise(0L)), lit(0L))
            .as("moved_n")),
        s"${stageName}_r$iter")
      changed = Observed.take(obs).getAs[Long]("moved_n")
      labels = staged.drop("moved")
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connected-components did not converge after $maxRounds rounds " +
          "(component diameter > " + (2 * maxRounds) + ")")
    labels.select(col("doc_id"), col("label").as("cluster"))
  }

  /** SimHash near-dup pairs over `docs(doc_id, text)`: 32-bit simhash32
    * signature, candidates via the Manku et al. (2007) rotated-table key —
    * hamming <= 2 leaves >= 2 of the 4 8-bit bands agreeing, so by
    * pigeonhole a qualifying pair agrees on at least one of the C(4,2) = 6
    * band PAIRS, a 16-bit key that is lossless while shrinking incidental
    * buckets ~256× versus single 8-bit bands (the structural super-linear
    * term the 30× rehearsal caught in the original q53 formulation). The
    * exact hamming filter runs only on bucket-mates.
    *
    * CAPPED BY DEFAULT like [[minhashPairs]]; `cap = Some(0)` restores the
    * unbounded pair list — oracled (q53) but α ≈ 1.5 at the 30× rehearsal
    * (SURVEY §6.10). Do not ship it against a corpus.
    */
  def simhashPairs(docs: org.apache.spark.sql.DataFrame, maxHamming: Int = 2,
      cap: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxHamming <= 2,
      "the 4-band pigeonhole key is lossless only for hamming <= 2")
    val bands = docs
      .transform(Sizing.spreadForCompute)
      .selectExpr("doc_id",
        "simhash32(array_distinct(split(lower(text), ' '))) AS simhash")
      .selectExpr("doc_id", "simhash",
        """posexplode(transform(
             array(array(0, 1), array(0, 2), array(0, 3),
                   array(1, 2), array(1, 3), array(2, 3)),
             p -> cast((shiftright(simhash, p[0] * 8) & 255) * 256 +
                       (shiftright(simhash, p[1] * 8) & 255) AS int))) AS (band, bv)""")
    val c = resolvedCap(cap)
    val kept =
      if (c <= 0) bands
      else bands
        .withColumn("mrk", row_number().over(
          Window.partitionBy(col("band"), col("bv")).orderBy(col("doc_id"))))
        .filter(col("mrk") <= c)
        .select(col("doc_id"), col("simhash"), col("band"), col("bv"))
    val a = kept.toDF("a_id", "sh_a", "band", "bv")
    val b = kept.toDF("b_id", "sh_b", "band", "bv")
    a.join(b, Seq("band", "bv")).filter(col("a_id") < col("b_id"))
      // a pair sharing m keys surfaces m times → dedup before the (cheap)
      // exact check; signatures ride along so no re-join
      .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b")).distinct()
      .selectExpr("a_id", "b_id",
        "cast(bit_count(sh_a ^ sh_b) AS int) AS hamming")
      .filter(col("hamming") <= maxHamming)
  }

  /** IEEE-identical cosine: double-cast elementwise product, sequential sum.
    * vec_dot (functions/VecKernels) is bit-identical to the former
    * aggregate(zip_with(...)) HOF chain — same left-to-right double
    * accumulation the DuckDB oracles compute — in one primitive loop.
    */
  private val cosine =
    """(vec_dot(qe, ne)
       / (sqrt(vec_dot(qe, qe)) * sqrt(vec_dot(ne, ne))))"""

  private val cosineDuck =
    """list_sum(list_transform(range(1, len(qe) + 1),
                               i -> CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)))
       / (sqrt(list_sum(list_transform(range(1, len(qe) + 1),
                                       i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len(ne) + 1),
                                         i -> CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)))))"""

  /** SemDeDup clustering stage (q104/q116): the first 8 vectors,
    * normalized, are the k centroids, and [[assignToCentroids]] normalizes
    * every vector ONCE (vec_normalize = the staged-l2 HOF chain in a native
    * kernel, so every later similarity is a single native dot product) and
    * assigns it to its nearest centroid by map-side argmax.
    */
  private def semdedupAssign(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(s, dir, "embeddings")
    assignToCentroids(emb, emb.filter(col("vec_id") < 8)
      .selectExpr("vec_id AS c_id", "vec_normalize(embedding) AS ce"))
  }

  /** SemDeDup pairing stage: within-cluster pairing as an alias self-join
    * on c_id; removed = any vector with a lower-id cluster-mate above the
    * cosine threshold. Key-space note for scale: k here is a fixture
    * stand-in — real SemDeDup runs k ≈ √n clusters, so the equi-join has
    * ample keys; the paper's cluster-size cap (or q49-style salting)
    * bounds the worst task.
    */
  private def semdedupPairs(assigned: org.apache.spark.sql.DataFrame) =
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .selectExpr("a.c_id AS c_id", "a.vec_id AS a_id", "b.vec_id AS b_id",
        "round(vec_dot(a.ne, b.ne), 4) AS sim")
      .filter(col("sim") >= 0.40)
      .groupBy(col("b_id"), col("c_id"))
      .agg(min(col("a_id")).as("keeper"))
      .withColumnRenamed("b_id", "removed_id")
      .orderBy(col("removed_id"))

  /** Shared q104/q116 oracle — staging changes the plan, not the answer. */
  private val semdedupOracle =
    s"""WITH eN AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ne
          FROM embeddings),
        cents AS (SELECT vec_id AS c_id, ne AS ce FROM eN WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT e.vec_id, e.ne, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_sum(list_transform(range(1, len(e.ne) + 1),
                                i -> e.ne[i] * c.ce[i])), 6) DESC,
                              c.c_id) AS rk
            FROM eN e CROSS JOIN cents c)
          WHERE rk = 1)
        SELECT b_id AS removed_id, c_id, min(a_id) AS keeper FROM (
          SELECT a.c_id, a.vec_id AS a_id, b.vec_id AS b_id,
                 round(list_sum(list_transform(range(1, len(a.ne) + 1),
                        i -> a.ne[i] * b.ne[i])), 4) AS sim
          FROM assigned a JOIN assigned b USING (c_id)
          WHERE a.vec_id < b.vec_id)
        WHERE sim >= 0.40 GROUP BY 1, 2 ORDER BY removed_id"""

  val defs: Seq[QueryDef] = Seq(

    // ---- Exact dedup: hash-groupBy on a normalized content key (here the
    //      lowercased 5-word prefix); survivors = min doc_id per group.
    //      One shuffle on the key — the canonical 100 TB exact-dedup plan.
    QueryDef(
      "q50_dedup_exact",
      (s, dir) => t(s, dir, "documents")
        .selectExpr("doc_id",
          "md5(array_join(slice(split(lower(text), ' '), 1, 5), ' ')) AS dup_key")
        .groupBy(col("dup_key"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("survivor"))
        .filter(col("n_copies") > 1)
        .orderBy(col("dup_key")),
      Some("""SELECT md5(array_to_string((str_split(rtrim(lower(text), ' '), ' '))[1:5], ' ')) AS dup_key,
        count(*) AS n_copies, min(doc_id) AS survivor
        FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY dup_key""")),

    // ---- Unicode-normalized dedup keys: the same visible text arrives
    //      precomposed (é = U+00E9) or decomposed (e + U+0301) from
    //      different crawls, and a raw content hash treats them as distinct
    //      documents — every production dedup normalizes BEFORE hashing.
    //      nfc_normalize (functions/TextNorm.scala, no Spark builtin)
    //      matches DuckDB's function of the same name, so the normalized
    //      key oracles byte-for-byte; whitespace is collapsed the same way
    //      on both sides. Per-key survivor + copy count, q50's plan shape:
    //      one shuffle on a 16-byte key. TextNormSpec proves the
    //      precomposed/decomposed and NFKC compatibility cases the ASCII
    //      fixture cannot.
    QueryDef(
      "q118_norm_dedup",
      (s, dir) => t(s, dir, "documents")
        .selectExpr("doc_id",
          """md5(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ')) AS norm_key""")
        .groupBy(col("norm_key"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("survivor"))
        .orderBy(col("norm_key")),
      Some("""SELECT md5(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm_key,
        count(*) AS n_copies, min(doc_id) AS survivor
        FROM documents GROUP BY 1 ORDER BY norm_key""")),

    // ---- n-gram Jaccard near-dup: exact set similarity over 3-word
    //      shingles; pairs found via the shingle inverted index (equi-join),
    //      intersection counted per pair, union from per-doc shingle counts.
    //      Hot-shingle guard: shingles whose document frequency exceeds
    //      JaccardDfCap are dropped as stop-shingles BEFORE the self-join —
    //      on a real corpus one ubiquitous shingle ("in the the", boilerplate
    //      headers) otherwise creates a quadratic candidate bucket. Jaccard
    //      is then computed over the kept-shingle sets on BOTH engines (the
    //      standard stop-shingle semantics, mirrored in the oracle).
    QueryDef(
      "q51_dedup_jaccard",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // w is bound as its own column (two references → CollapseProject
        // keeps it) so the per-shingle lambda slices an attribute instead of
        // re-splitting the text ~250× per row
        val exploded = fixtureBound(t(s, dir, "documents"), "doc_id", 120)
          .transform(Sizing.spreadForCompute)
          .selectExpr("doc_id", "split(lower(text), ' ') AS w")
          .selectExpr("doc_id",
            // guard: sequence(0, n) DESCENDS when n < 0 (docs under 3
            // words would then slice at index 0 and throw)
            """CASE WHEN size(w) >= 3 THEN
                 array_distinct(transform(sequence(0, size(w) - 3),
                   i -> concat_ws(' ', slice(w, i + 1, 3))))
               ELSE array() END AS shingles""")
          // explode_outer: no size(shingles)>0 Generate-constraint gets
          // inferred and pushed into the scan filter (where it would
          // re-evaluate the shingle array); null sh rows can't join anyway
          .selectExpr("doc_id", "explode_outer(shingles) AS sh")
        val sh = exploded
          // df window shuffles on sh — the same key the self-join needs
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
          .filter(col("df") <= JaccardDfCap)
          .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .select(col("doc_id"), col("nsh"), col("sh"))
        val a = sh.toDF("a_id", "na", "sh")
        val b = sh.toDF("b_id", "nb", "sh")
        a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("inter"),
            first(col("na")).as("na"), first(col("nb")).as("nb"))
          .selectExpr("a_id", "b_id", "inter", "na + nb - inter AS uni",
            "round(inter / (na + nb - inter), 6) AS jaccard")
          .filter(col("jaccard") >= 0.02)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH s0 AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
          FROM (SELECT doc_id, str_split(rtrim(lower(text), ' '), ' ') AS w
                FROM documents WHERE doc_id < 120)),
        s1 AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM s0),
        s AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS nsh
              FROM s1 WHERE df <= $JaccardDfCap),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
                 any_value(a.nsh) AS na, any_value(b.nsh) AS nb
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT a_id, b_id, inter, na + nb - inter AS uni,
               round(inter / (na + nb - inter), 6) AS jaccard
        FROM p WHERE round(inter / (na + nb - inter), 6) >= 0.02
        ORDER BY a_id, b_id""")),

    // ---- MinHash + LSH near-dup: 16 minhashes per doc computed as a single
    //      projection (the native minhash_sig kernel over the word set;
    //      the repartition only fans the single-row-group fixture scan),
    //      banded 2×8, candidates = equi-join on (band, band_hash). The
    //      doc_id < 200 window only bounds the emitted pair list.
    QueryDef(
      "q52_dedup_minhash",
      // cap = Some(0) is the DELIBERATE uncapped mode — this QueryDef
      // exists to oracle the unbounded pair-list contract on the bounded
      // fixture; minhashPairs' scaladoc carries the 747 s / α 1.86
      // measurement that makes the capped default (q121) the production
      // path.
      (s, dir) =>
        minhashPairs(fixtureBound(t(s, dir, "documents"), "doc_id", 200),
            cap = Some(0))
          .orderBy(col("a_id"), col("b_id")),
      Some("""WITH w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY a_id, b_id""")),

    // ---- SimHash near-dup: 32-bit signature as a shuffle-free projection;
    //      candidate pairs via banded signature-prefix buckets — hamming ≤ 2
    //      flips bits in at most 2 of the 4 8-bit bands, so by pigeonhole a
    //      qualifying pair agrees on ≥ 2 bands and a (band, value) equi-join
    //      finds EVERY such pair (lossless, unlike probabilistic LSH). The
    //      exact hamming filter then runs only on bucket-mates, never on the
    //      n² pair space.
    QueryDef(
      "q53_dedup_simhash",
      // cap = Some(0): deliberate uncapped mode over the bounded fixture
      // (see q52's note). The operator's Manku band-pair key replaced this
      // query's original 4×8-bit single-band key — both are lossless for
      // hamming <= 2, so the emitted pairs are identical and the all-pairs
      // oracle is untouched; the 16-bit key just shrinks incidental
      // buckets ~256×.
      (s, dir) =>
        simhashPairs(fixtureBound(t(s, dir, "documents"), "doc_id", 100),
            cap = Some(0))
          .orderBy(col("a_id"), col("b_id")),
      Some("""WITH w AS (
          SELECT doc_id,
                 list_transform(list_distinct(str_split(rtrim(lower(text), ' '), ' ')),
                   x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
          FROM documents WHERE doc_id < 100),
        s AS (
          SELECT doc_id,
                 list_transform(range(0, 32),
                   b -> list_sum(list_transform(hs,
                          h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))) AS sums
          FROM w),
        sh AS (
          SELECT doc_id,
                 list_sum(list_transform(range(0, 32),
                   b -> CASE WHEN sums[b+1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS simhash
          FROM s)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        ORDER BY a_id, b_id""")),

    // ---- Capped MinHash-LSH candidates — the 30× stress verdict on q52,
    //      the same arc as q104→q119. A duplicate-heavy corpus grows
    //      (band, bh) buckets linearly with scale, so q52's all-pairs
    //      output grows quadratically: at 30× replica growth the uncapped
    //      operator measured α ≈ 1.15 / 528 s (SURVEY §6.10) — inherent to
    //      the pair-list contract, not the plan. Bounding membership to the
    //      `cap` lowest doc_ids per bucket bounds every task AND the output
    //      at C(cap, 2) pairs per bucket. Deterministic membership ⇒ the
    //      DuckDB oracle replicates the selection exactly; the
    //      row_number()<=cap shape compiles to Partial+Final
    //      WindowGroupLimit (q119's analysis — map tasks keep ≤cap rows per
    //      bucket BEFORE the shuffle; pinned in PlanShapeSpec). Pairs the
    //      cap drops are members of over-full buckets — near-identical by
    //      construction (a full minhash band in common), the regime exact /
    //      normalized dedup (q50/q118) clears first in a real pipeline.
    QueryDef(
      "q121_minhash_capped",
      // the PRODUCTION entry point: minhashPairs with its default cap of
      // 10 — exactly what a user gets calling the operator without an
      // explicit cap. The oracle replicates the
      // deterministic selection with QUALIFY row_number() <= 10.
      (s, dir) =>
        minhashPairs(fixtureBound(t(s, dir, "documents"), "doc_id", 200))
          .orderBy(col("a_id"), col("b_id")),
      Some("""WITH w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        kept AS (
          SELECT doc_id, band, bh FROM bands
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY a_id, b_id""")),

    // ---- LSH candidate VERIFICATION — the pipeline stage q121 feeds:
    //      capped minhash candidates, then EXACT word-set Jaccard decides
    //      (≥ 0.8 accepts 195 of 390 candidates at the fixture bound — the
    //      threshold visibly rejects banding false positives). A real
    //      dedup ships candidates → verify → cluster; this closes the
    //      middle step as a first-class operator.
    QueryDef(
      "q125_lsh_verify",
      (s, dir) => {
        val docs = fixtureBound(t(s, dir, "documents"), "doc_id", 200)
        verifyPairs(docs, minhashPairs(docs), 0.8)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        kept AS (
          SELECT doc_id, band, bh FROM bands
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        v AS (
          SELECT p.a_id, p.b_id, p.n_bands,
                 round(len(list_intersect(wa.words, wb.words)) * 1.0
                       / (len(wa.words) + len(wb.words)
                          - len(list_intersect(wa.words, wb.words))), 6) AS jaccard
          FROM pairs p
          JOIN w wa ON p.a_id = wa.doc_id
          JOIN w wb ON p.b_id = wb.doc_id)
        SELECT a_id, b_id, n_bands, jaccard FROM v
        WHERE jaccard >= 0.8 ORDER BY a_id, b_id""")),

    // ---- Incremental delta-dedup admission: existing corpus (doc_id <
    //      150) stays put, its bands live in the staged signature store;
    //      the incoming batch (150 ≤ doc_id < 250) is admitted only when no
    //      verified near-dup links it to an earlier doc. The production
    //      nightly-delta shape, composed from minhashBands + staging +
    //      verifyPairs.
    QueryDef(
      "q129_incremental_dedup",
      (s, dir) => {
        val all = fixtureBound(t(s, dir, "documents"), "doc_id", 250)
        val existing = all.filter(col("doc_id") < 150)
        val incoming = all.filter(col("doc_id") >= 150)
        incrementalAdmit(existing, incoming, 0.8)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 250),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        kept AS (
          SELECT doc_id, band, bh FROM bands
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM kept a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh
               AND a.doc_id < b.doc_id AND b.doc_id >= 150
          GROUP BY 1, 2),
        v AS (
          SELECT p.b_id,
                 round(len(list_intersect(wa.words, wb.words)) * 1.0
                       / (len(wa.words) + len(wb.words)
                          - len(list_intersect(wa.words, wb.words))), 6) AS jaccard
          FROM pairs p
          JOIN w wa ON p.a_id = wa.doc_id
          JOIN w wb ON p.b_id = wb.doc_id),
        rejected AS (SELECT DISTINCT b_id FROM v WHERE jaccard >= 0.8)
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id >= 150 AND doc_id < 250
          AND doc_id NOT IN (SELECT b_id FROM rejected)
        ORDER BY doc_id""")),

    // ---- The COMPOSED near-dup lifecycle (VERDICT r9 #5): candidates
    //      (q121's capped generator) → exact-Jaccard verify (q125) →
    //      connected components over the VERIFIED edges only (q86's
    //      propagation loop, now over a cleaner edge set) → survivor
    //      selection (q126's max_by shape) — in ONE query, the plan a user
    //      actually ships. Note the cluster set differs from q86/q126 by
    //      design: banding false positives never reach the edge set here.
    QueryDef(
      "q130_lifecycle",
      (s, dir) =>
        nearDupLifecycle(fixtureBound(t(s, dir, "documents"), "doc_id", 200), 0.8)
          .orderBy(col("cluster")),
      Some("""WITH RECURSIVE w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        kept AS (
          SELECT doc_id, band, bh FROM bands
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        vp AS (
          SELECT p.a_id, p.b_id
          FROM pairs p
          JOIN w wa ON p.a_id = wa.doc_id
          JOIN w wb ON p.b_id = wb.doc_id
          WHERE round(len(list_intersect(wa.words, wb.words)) * 1.0
                      / (len(wa.words) + len(wb.words)
                         - len(list_intersect(wa.words, wb.words))), 6) >= 0.8),
        ebi AS (SELECT a_id AS src, b_id AS dst FROM vp
                UNION ALL SELECT b_id, a_id FROM vp),
        r(node, reached) AS (
          SELECT doc_id, doc_id FROM w
          UNION
          SELECT r.node, e.dst FROM r JOIN ebi e ON e.src = r.reached),
        cl AS (SELECT node AS doc_id, min(reached) AS cluster
               FROM r GROUP BY node),
        tok AS (SELECT doc_id, len(str_split(rtrim(text, ' '), ' ')) AS n_tokens
                FROM documents WHERE doc_id < 200),
        j AS (SELECT cl.cluster, cl.doc_id, tok.n_tokens
              FROM cl JOIN tok USING (doc_id)),
        agg AS (SELECT cluster, count(*) AS n_members,
                       max(n_tokens) AS max_tokens
                FROM j GROUP BY cluster),
        sv AS (SELECT cluster, doc_id AS survivor_id FROM j
               QUALIFY row_number() OVER (PARTITION BY cluster
                 ORDER BY n_tokens DESC, doc_id) = 1)
        SELECT a.cluster, n_members, survivor_id, max_tokens
        FROM agg a JOIN sv USING (cluster) ORDER BY cluster""")),

    // ---- CHAINED two-delta admission through the signature store (r10):
    //      the store path itself under the oracle — delta 1 admits against
    //      the bootstrap store, delta 2 against the UPDATED store, so the
    //      oracle verifies the chain property end-to-end: a delta-1
    //      REJECTED doc must not occupy round-2 cap slots or reject
    //      anything, while delta-1 ADMITTED docs must. Output = everything
    //      admitted across both deltas.
    QueryDef(
      "q131_chained_admission",
      (s, dir) => {
        val all = fixtureBound(t(s, dir, "documents"), "doc_id", 300)
        val existing = all.filter(col("doc_id") < 100)
        val d1 = all.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        val d2 = all.filter(col("doc_id") >= 200)
        val store0 = buildSigStore(existing, "sigstore_chain")
        val (a1, store1) = incrementalAdmit(store0, d1, 0.8, None, 16, 2)
        val (a2, _) = incrementalAdmit(store1, d2, 0.8, None, 16, 2)
        a1.union(a2).select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 300),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        kept1 AS (
          SELECT doc_id, band, bh FROM bands WHERE doc_id < 200
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10),
        pairs1 AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM kept1 a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh
               AND b.doc_id >= 100 AND b.doc_id < 200 AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        rej1 AS (
          SELECT DISTINCT p.b_id FROM pairs1 p
          JOIN w wa ON p.a_id = wa.doc_id
          JOIN w wb ON p.b_id = wb.doc_id
          WHERE round(len(list_intersect(wa.words, wb.words)) * 1.0
                      / (len(wa.words) + len(wb.words)
                         - len(list_intersect(wa.words, wb.words))), 6) >= 0.8),
        adm1 AS (
          SELECT doc_id FROM w
          WHERE doc_id >= 100 AND doc_id < 200
            AND doc_id NOT IN (SELECT b_id FROM rej1)),
        store2 AS (
          SELECT doc_id FROM w WHERE doc_id < 100
          UNION ALL SELECT doc_id FROM adm1),
        probe2 AS (
          SELECT b.doc_id, b.band, b.bh FROM bands b JOIN store2 USING (doc_id)
          UNION ALL
          SELECT doc_id, band, bh FROM bands WHERE doc_id >= 200),
        kept2 AS (
          SELECT doc_id, band, bh FROM probe2
          QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 10),
        pairs2 AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM kept2 a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh
               AND b.doc_id >= 200 AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        rej2 AS (
          SELECT DISTINCT p.b_id FROM pairs2 p
          JOIN w wa ON p.a_id = wa.doc_id
          JOIN w wb ON p.b_id = wb.doc_id
          WHERE round(len(list_intersect(wa.words, wb.words)) * 1.0
                      / (len(wa.words) + len(wb.words)
                         - len(list_intersect(wa.words, wb.words))), 6) >= 0.8)
        SELECT doc_id, lang, n_chars FROM documents
        WHERE (doc_id IN (SELECT doc_id FROM adm1))
           OR (doc_id >= 200 AND doc_id < 300
               AND doc_id NOT IN (SELECT b_id FROM rej2))
        ORDER BY doc_id""")),

    // ---- EMBEDDING-side incremental admission (r10): SemDeDup's
    //      nightly-delta shape through a VecStore — existing corpus =
    //      staged centroids + staged assigned members, delta vectors
    //      normalized once, assigned by broadcast argmax, and judged by
    //      exact cosine against the (capped) cluster members. The vector
    //      twin of q129: clusters are the candidate buckets, so admission
    //      is one c_id equi-join, never all-pairs.
    QueryDef(
      "q132_vec_admission",
      (s, dir) => {
        val all = fixtureBound(t(s, dir, "embeddings"), "vec_id", 500)
        val existing = all.filter(col("vec_id") < 300)
        val incoming = all.filter(col("vec_id") >= 300)
        val cents = existing.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS c_id", "vec_normalize(embedding) AS ce")
        val store = buildVecStore(
          existing.select(col("vec_id"), col("embedding")), cents,
          "vecstore_existing")
        incrementalAdmitVec(store, incoming, 0.40)._1
          .select(col("vec_id"), col("label")).orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        eN AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ne
          FROM e),
        cents AS (SELECT vec_id AS c_id, ne AS ce FROM eN WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT v.vec_id, v.ne, c.c_id,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY round(list_sum(list_transform(range(1, len(v.ne) + 1),
                                i -> v.ne[i] * c.ce[i])), 6) DESC,
                              c.c_id) AS rk
            FROM eN v CROSS JOIN cents c)
          WHERE rk = 1),
        kept AS (
          SELECT vec_id, ne, c_id FROM assigned
          QUALIFY row_number() OVER (PARTITION BY c_id ORDER BY vec_id) <= 10),
        rejected AS (
          SELECT DISTINCT b.vec_id
          FROM kept a JOIN assigned b
            ON a.c_id = b.c_id AND b.vec_id >= 300 AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(range(1, len(a.ne) + 1),
                       i -> a.ne[i] * b.ne[i])), 4) >= 0.40)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id >= 300 AND vec_id < 500
          AND vec_id NOT IN (SELECT vec_id FROM rejected)
        ORDER BY vec_id""")),

    // ---- Capped SimHash near-dup — the 30× stress verdict on q53
    //      (α ≈ 1.21 / 108 s, SURVEY §6.10), which compounds TWO
    //      super-linear terms: (a) 8-bit bands give only 4·256 buckets, so
    //      bucket population — and all-pairs work — grows with corpus size
    //      even with zero duplication; (b) the pair-list output itself is
    //      quadratic in duplicate-group size. (a) is fixed exactly:
    //      hamming ≤ 2 leaves ≥ 2 of the 4 bands agreeing, so by pigeonhole
    //      the pair agrees on at least one of the C(4,2) = 6 band PAIRS —
    //      a 16-bit key (65k buckets per table, the Manku et al. 2007
    //      rotated-table construction) that stays lossless while shrinking
    //      incidental buckets ~256×. (b) takes q119's cap: the lowest-`cap`
    //      doc_ids per (pair, key16) bucket, deterministic so the oracle
    //      replicates, WindowGroupLimit-bounded so no task sorts a
    //      mega-bucket.
    QueryDef(
      "q122_simhash_capped",
      // production capped path (see q121's note); cap = 5 exercises the
      // explicit-argument override of the conf default.
      (s, dir) =>
        simhashPairs(fixtureBound(t(s, dir, "documents"), "doc_id", 100),
            cap = Some(5))
          .orderBy(col("a_id"), col("b_id")),
      Some("""WITH w AS (
          SELECT doc_id,
                 list_transform(list_distinct(str_split(rtrim(lower(text), ' '), ' ')),
                   x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
          FROM documents WHERE doc_id < 100),
        s AS (
          SELECT doc_id,
                 list_transform(range(0, 32),
                   b -> list_sum(list_transform(hs,
                          h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))) AS sums
          FROM w),
        sh AS (
          SELECT doc_id,
                 list_sum(list_transform(range(0, 32),
                   b -> CASE WHEN sums[b+1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS simhash
          FROM s),
        bands AS (
          SELECT doc_id, simhash,
                 unnest(range(0, 6)) AS band,
                 unnest([((simhash >>  0) & 255) * 256 + ((simhash >>  8) & 255),
                         ((simhash >>  0) & 255) * 256 + ((simhash >> 16) & 255),
                         ((simhash >>  0) & 255) * 256 + ((simhash >> 24) & 255),
                         ((simhash >>  8) & 255) * 256 + ((simhash >> 16) & 255),
                         ((simhash >>  8) & 255) * 256 + ((simhash >> 24) & 255),
                         ((simhash >> 16) & 255) * 256 + ((simhash >> 24) & 255)]) AS bv
          FROM sh),
        kept AS (
          SELECT doc_id, simhash, band, bv FROM bands
          QUALIFY row_number() OVER (PARTITION BY band, bv ORDER BY doc_id) <= 5)
        SELECT a_id, b_id, hamming FROM (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        WHERE hamming <= 2 ORDER BY a_id, b_id""")),

    // ---- Brute-force cosine top-k (the ANN baseline): small query set
    //      broadcast against the full embedding table, per-query top-3 via
    //      TakeOrdered-style window. At 100 TB the scan side stays
    //      partition-parallel; only the query set is replicated.
    QueryDef(
      "q54_embed_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.selectExpr("vec_id AS q_id", "embedding AS qe").filter(col("q_id") < 10)
        val n = emb.selectExpr("vec_id AS nb_id", "embedding AS ne")
        broadcast(q).crossJoin(n)
          .filter(col("q_id") =!= col("nb_id"))
          .selectExpr("q_id", "nb_id", s"round($cosine, 4) AS sim")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("q_id"))
              .orderBy(col("sim").desc, col("nb_id"))))
          .filter(col("rk") <= 3)
          .orderBy(col("q_id"), col("rk"))
      },
      Some(s"""SELECT q_id, nb_id, sim, rk FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS nb_id,
                 round($cosineDuck, 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round($cosineDuck, 4) DESC, n.vec_id) AS rk
          FROM (SELECT vec_id, embedding AS qe FROM embeddings WHERE vec_id < 10) q
               CROSS JOIN (SELECT vec_id, embedding AS ne FROM embeddings) n
          WHERE q.vec_id != n.vec_id)
        WHERE rk <= 3 ORDER BY q_id, rk""")),

    // ---- Embedding-cosine near-dup pairs, LSH-bucketed (the scale plan):
    //      candidates = pairs agreeing on EITHER of two 4-sign-bit hyperplane
    //      bands (an OR-construction boosts recall over one band), found by a
    //      per-band equi-join — the n² pair space is never materialized.
    //      Candidate generation is approximate BY DESIGN (standard for
    //      embedding dedup at scale); the oracle replicates the identical
    //      bucketing, so the gate still checks exact equality of the plan's
    //      semantics. Brute-force exact pairing remains available as q54's
    //      broadcast pattern.
    QueryDef(
      "q65_dedup_cosine",
      (s, dir) => {
        val bands = t(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .transform(Sizing.spreadForCompute)
          .selectExpr("vec_id", "embedding",
            """posexplode(transform(sequence(0, 1),
                 j -> cast(if(element_at(embedding, j * 4 + 1) > 0, 1, 0)
                         + if(element_at(embedding, j * 4 + 2) > 0, 2, 0)
                         + if(element_at(embedding, j * 4 + 3) > 0, 4, 0)
                         + if(element_at(embedding, j * 4 + 4) > 0, 8, 0) AS int)))
               AS (band, bv)""")
        val a = bands.toDF("a_id", "qe", "band", "bv")
        val b = bands.toDF("b_id", "ne", "band", "bv")
        a.join(b, Seq("band", "bv")).filter(col("a_id") < col("b_id"))
          // a pair agreeing on both bands surfaces twice → dedup before the
          // (interpreted, expensive) cosine runs once per candidate
          .groupBy(col("a_id"), col("b_id"))
          .agg(first(col("qe")).as("qe"), first(col("ne")).as("ne"))
          .selectExpr("a_id", "b_id", s"round($cosine, 4) AS sim")
          .filter(col("sim") >= 0.35)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH e AS (
          SELECT vec_id, embedding,
                 CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END AS INT) AS bv0,
                 CAST(CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[6] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[7] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[8] > 0 THEN 8 ELSE 0 END AS INT) AS bv1
          FROM embeddings WHERE vec_id < 300),
        cand AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 any_value(a.embedding) AS qe, any_value(b.embedding) AS ne
          FROM e a JOIN e b
            ON a.vec_id < b.vec_id AND (a.bv0 = b.bv0 OR a.bv1 = b.bv1)
          GROUP BY 1, 2)
        SELECT a_id, b_id, sim FROM (
          SELECT a_id, b_id, round($cosineDuck, 4) AS sim FROM cand)
        WHERE sim >= 0.35 ORDER BY a_id, b_id""")),

    // ---- IVF ANN (the second scale path beside LSH): a fixed coarse
    //      quantizer (the first 8 vectors as centroids — deterministic, so
    //      the oracle can replicate; a trained quantizer would slot in the
    //      same plan), every vector assigned to its nearest centroid via a
    //      broadcast argmax, queries probe only their centroid's posting
    //      list. Assignment compares 6dp-rounded similarities with centroid
    //      id tie-break so both engines pick identical cells.
    QueryDef(
      "q75_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS c_id", "embedding AS ce")
        val assigned = emb.selectExpr("vec_id", "embedding")
          .transform(Sizing.spreadForCompute)
          .crossJoin(broadcast(cents))
          .selectExpr("vec_id", "embedding", "c_id",
            s"""round(${cosine.replace("qe", "embedding").replace("ne", "ce")}, 6) AS csim""")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("vec_id"))
              .orderBy(col("csim").desc, col("c_id"))))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("embedding"), col("c_id"))
        val q = assigned.selectExpr("vec_id AS q_id", "embedding AS qe", "c_id")
          .filter(col("q_id") < 10)
        val n = assigned.selectExpr("vec_id AS nb_id", "embedding AS ne", "c_id")
        q.join(n, Seq("c_id"))
          .filter(col("q_id") =!= col("nb_id"))
          .selectExpr("q_id", "c_id", "nb_id", s"round($cosine, 4) AS sim")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("q_id"))
              .orderBy(col("sim").desc, col("nb_id"))))
          .filter(col("rk") === 1).drop("rk")
          .orderBy(col("q_id"))
      },
      Some(s"""WITH cents AS (
          SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(${cosineDuck.replace("qe", "e.embedding").replace("ne", "c.ce")}, 6) DESC,
                              c.c_id) AS rk
            FROM embeddings e CROSS JOIN cents c)
          WHERE rk = 1)
        SELECT q_id, c_id, nb_id, sim FROM (
          SELECT q.vec_id AS q_id, q.c_id AS c_id, n.vec_id AS nb_id,
                 round(${cosineDuck.replace("qe", "q.embedding").replace("ne", "n.embedding")}, 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(${cosineDuck.replace("qe", "q.embedding").replace("ne", "n.embedding")}, 4) DESC,
                            n.vec_id) AS rk
          FROM assigned q JOIN assigned n USING (c_id)
          WHERE q.vec_id < 10 AND q.vec_id != n.vec_id)
        WHERE rk = 1 ORDER BY q_id""")),

    // ---- Vector column ops: norms, extrema, component stats — the
    //      embedding-hygiene projections a training pipeline runs before
    //      similarity work; pure codegen'd/HOF projections
    QueryDef(
      "q59_vector_ops",
      (s, dir) => t(s, dir, "embeddings")
        .selectExpr("vec_id", "label",
          "size(embedding) AS dim",
          """round(sqrt(aggregate(transform(embedding, x -> double(x) * double(x)),
               cast(0 AS double), (acc, v) -> acc + v)), 4) AS l2""",
          """round(aggregate(transform(embedding, x -> double(x)),
               cast(0 AS double), (acc, v) -> acc + v) / size(embedding), 6) AS mean""",
          "round(double(array_max(embedding)), 6) AS mx",
          "round(double(array_min(embedding)), 6) AS mn",
          "size(filter(embedding, x -> x > 0)) AS n_pos")
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, label, len(embedding) AS dim,
        round(sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
        round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
              / len(embedding), 6) AS mean,
        round(CAST(list_max(embedding) AS DOUBLE), 6) AS mx,
        round(CAST(list_min(embedding) AS DOUBLE), 6) AS mn,
        len(list_filter(embedding, x -> x > 0)) AS n_pos
        FROM embeddings ORDER BY vec_id""")),

    // ---- LSH-bucketed ANN (the scale path): random-hyperplane sign bits
    //      (axis planes on dims 0-3) → 16 buckets; candidates share the
    //      query's bucket, so the cross join becomes a hash equi-join.
    QueryDef(
      "q55_ann_lsh",
      (s, dir) => {
        val bucketExpr =
          """cast(if(element_at(%s, 1) > 0, 1, 0) + if(element_at(%s, 2) > 0, 2, 0)
               + if(element_at(%s, 3) > 0, 4, 0) + if(element_at(%s, 4) > 0, 8, 0) AS int)"""
        val emb = t(s, dir, "embeddings")
        val q = emb.selectExpr("vec_id AS q_id", "embedding AS qe",
          bucketExpr.format("embedding", "embedding", "embedding", "embedding") + " AS bucket")
          .filter(col("q_id") < 10)
        val n = emb.selectExpr("vec_id AS nb_id", "embedding AS ne",
          bucketExpr.format("embedding", "embedding", "embedding", "embedding") + " AS bucket")
        q.join(n, Seq("bucket"))
          .filter(col("q_id") =!= col("nb_id"))
          .selectExpr("q_id", "bucket", "nb_id", s"round($cosine, 4) AS sim")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("q_id"))
              .orderBy(col("sim").desc, col("nb_id"))))
          .filter(col("rk") === 1).drop("rk")
          .orderBy(col("q_id"))
      },
      Some(s"""WITH e AS (
          SELECT vec_id, embedding,
                 CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END AS INT) AS bucket
          FROM embeddings)
        SELECT q_id, bucket, nb_id, sim FROM (
          SELECT q.vec_id AS q_id, q.bucket AS bucket, n.vec_id AS nb_id,
                 round($cosineDuck, 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round($cosineDuck, 4) DESC, n.vec_id) AS rk
          FROM (SELECT vec_id, embedding AS qe, bucket FROM e WHERE vec_id < 10) q
               JOIN (SELECT vec_id, embedding AS ne, bucket FROM e) n USING (bucket)
          WHERE q.vec_id != n.vec_id)
        WHERE rk = 1 ORDER BY q_id""")),

    // ---- Near-dup CLUSTER assignment (connected components): the step that
    //      turns pairwise candidates into survivor groups — every doc gets
    //      the min doc_id of its connected component over the q52-style
    //      minhash band edges. Iterative min-label propagation, the Pregel
    //      superstep pattern: per iteration one equi-join + keyed min-agg,
    //      labels checkpointed via staged scratch writes, convergence read
    //      from an observe() metric of the write job itself (the one
    //      irreducible driver-side signal of any iterative graph algorithm,
    //      at zero extra jobs; iterations are bounded by component diameter,
    //      tiny for near-dup graphs). The oracle replicates the closure with
    //      a recursive CTE.
    QueryDef(
      "q86_dedup_clusters",
      (s, dir) =>
        clusterAssign(fixtureBound(t(s, dir, "documents"), "doc_id", 200))
          .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        ebi AS (SELECT a_id AS src, b_id AS dst FROM p
                UNION ALL SELECT b_id, a_id FROM p),
        r(node, reached) AS (
          SELECT doc_id, doc_id FROM w
          UNION
          SELECT r.node, e.dst FROM r JOIN ebi e ON e.src = r.reached)
        SELECT node AS doc_id, min(reached) AS cluster
        FROM r GROUP BY node ORDER BY doc_id""")),

    // ---- Cluster SURVIVOR selection — the step that actually dedups a
    //      corpus after clustering: per connected component keep ONE doc,
    //      chosen by quality (token count here; any score column slots in)
    //      with doc_id as the deterministic tie-break. Composes the public
    //      clusterAssign with a single groupBy — max_by over a
    //      (quality, -doc_id) struct is one shuffle on the cluster key,
    //      no window, no second pass over text.
    QueryDef(
      "q126_survivor_select",
      (s, dir) => {
        val docs = fixtureBound(t(s, dir, "documents"), "doc_id", 200)
        docs.selectExpr("doc_id", "size(split(text, ' ')) AS n_tokens")
          .join(clusterAssign(docs), Seq("doc_id"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"),
            expr("max_by(doc_id, struct(n_tokens, -doc_id))").as("survivor_id"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy(col("cluster"))
      },
      Some("""WITH RECURSIVE w AS (
          SELECT doc_id, list_distinct(str_split(rtrim(lower(text), ' '), ' ')) AS words
          FROM documents WHERE doc_id < 200),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(words,
                          w2 -> CAST(('0x' || substr(md5(i || ':' || w2), 1, 8)) AS BIGINT)))) AS s
          FROM w),
        bands AS (
          SELECT doc_id, unnest(range(0, 2)) AS band,
                 unnest(list_transform(range(0, 2),
                        j -> md5(array_to_string(s[j*8+1:j*8+8], ',')))) AS bh
          FROM sig),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        ebi AS (SELECT a_id AS src, b_id AS dst FROM p
                UNION ALL SELECT b_id, a_id FROM p),
        r(node, reached) AS (
          SELECT doc_id, doc_id FROM w
          UNION
          SELECT r.node, e.dst FROM r JOIN ebi e ON e.src = r.reached),
        cl AS (SELECT node AS doc_id, min(reached) AS cluster
               FROM r GROUP BY node),
        tok AS (SELECT doc_id, len(str_split(rtrim(text, ' '), ' ')) AS n_tokens
                FROM documents WHERE doc_id < 200),
        j AS (SELECT cl.cluster, cl.doc_id, tok.n_tokens
              FROM cl JOIN tok USING (doc_id)),
        agg AS (SELECT cluster, count(*) AS n_members,
                       max(n_tokens) AS max_tokens
                FROM j GROUP BY cluster),
        sv AS (SELECT cluster, doc_id AS survivor_id FROM j
               QUALIFY row_number() OVER (PARTITION BY cluster
                 ORDER BY n_tokens DESC, doc_id) = 1)
        SELECT a.cluster, n_members, survivor_id, max_tokens
        FROM agg a JOIN sv USING (cluster) ORDER BY cluster""")),

    // ---- Dedup with a provenance-priority survivor policy (the CCNet /
    //      RefinedWeb pattern: when copies exist across sources, keep the
    //      copy from the most trusted source, not the arbitrary min-id one).
    //      Same one-shuffle exact-dedup plan as q50, with the survivor
    //      chosen by (source priority, doc_id) inside each dup-key window.
    QueryDef(
      "q94_priority_dedup",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rk = Window.partitionBy(col("dup_key"))
          .orderBy(col("prio"), col("doc_id"))
        t(s, dir, "documents")
          .selectExpr("doc_id", "source",
            "cast(substring(source, 4) AS int) AS prio",
            "md5(array_join(slice(split(lower(text), ' '), 1, 5), ' ')) AS dup_key")
          .withColumn("rk", row_number().over(rk))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rk") === 1, 1).otherwise(0)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
          SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS prio,
                 md5(array_to_string((str_split(rtrim(lower(text), ' '), ' '))[1:5], ' ')) AS dup_key
          FROM documents),
        r AS (
          SELECT source,
                 row_number() OVER (PARTITION BY dup_key
                   ORDER BY prio, doc_id) AS rk
          FROM d)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM r GROUP BY source ORDER BY source""")),

    // ---- Symmetric int8 embedding quantization (absmax scaling — the
    //      4× storage cut before an ANN index build). Pure projection,
    //      shuffle-free at any scale. Cross-engine safety: inputs are
    //      float→double (exact), the scaled values are single-expression
    //      IEEE arithmetic, and round-to-INTEGER is engine-agreeing (exact
    //      binary halves round away from zero in both; fractional-scale
    //      rounds are the ones that diverge — see q88 notes). The
    //      quantized vector is emitted as a CSV digest; per-vector sums and
    //      saturation counts pin the values numerically.
    QueryDef(
      "q95_embed_quant",
      (s, dir) => t(s, dir, "embeddings")
        .selectExpr("vec_id", "label",
          "array_max(transform(embedding, x -> abs(double(x)))) AS maxabs",
          "embedding")
        .selectExpr("vec_id", "label", "maxabs",
          """CASE WHEN maxabs > 0 THEN
               transform(embedding, x -> cast(round(double(x) * 127 / maxabs) AS int))
             ELSE transform(embedding, x -> 0) END AS q""")
        .selectExpr("vec_id", "label", "maxabs",
          "aggregate(q, 0L, (acc, v) -> acc + v) AS q_sum",
          "size(filter(q, v -> abs(v) = 127)) AS n_sat",
          "md5(array_join(q, ',')) AS q_md5")
        .orderBy(col("vec_id")),
      Some("""WITH m AS (
          SELECT vec_id, label, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
          FROM embeddings),
        qz AS (
          SELECT vec_id, label, maxabs,
                 CASE WHEN maxabs > 0 THEN
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 127 / maxabs) AS INT))
                 ELSE list_transform(embedding, x -> 0) END AS q
          FROM m)
        SELECT vec_id, label, maxabs,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               len(list_filter(q, v -> abs(v) = 127)) AS n_sat,
               md5(array_to_string(q, ',')) AS q_md5
        FROM qz ORDER BY vec_id""")),

    // ---- Per-dimension feature statistics (the mean/std table a training
    //      pipeline computes before whitening / standardizing embeddings).
    //      Cross-engine exactness: double moment sums depend on
    //      hash-aggregation order, so both moments are ORDER-FREE BIGINT
    //      sums of integer micro-units (m = round(x·10⁶), exact on float
    //      inputs), finished by one deterministic double expression.
    //      Capacity math: |m| ≤ 6·10⁵ here ⇒ m² ≤ 3.3·10¹¹, so s2 stays
    //      exact below ~2.7·10⁷ rows/dim at 10⁶ units; at web scale drop
    //      to 10⁴ units (exact past 10¹¹ rows/dim) or split s2 into
    //      hi/lo = sum(m² div B) · B + sum(m² mod B) — same plan, two
    //      more integer sums. One (dim, m) shuffle — metadata, not vectors.
    QueryDef(
      "q109_dim_stats",
      (s, dir) => t(s, dir, "embeddings")
        .transform(Sizing.spreadForCompute)
        .selectExpr("posexplode(embedding) AS (pos, x)")
        .selectExpr("pos + 1 AS dim",
          "cast(round(double(x) * 1000000.0D) AS bigint) AS m")
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s1"),
          sum(expr("m * m")).as("s2"))
        .selectExpr("cast(dim AS int) AS dim",
          "round(double(s1) / n / 1000000.0D, 6) AS mean",
          "round(sqrt((double(s2) - double(s1) * s1 / n) / n) / 1000000.0D, 6) AS std")
        .orderBy(col("dim")),
      Some("""WITH d AS (
          SELECT i AS dim,
                 CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS m
          FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
        s AS (SELECT dim, count(*) AS n, CAST(sum(m) AS BIGINT) AS s1,
                     CAST(sum(m * m) AS BIGINT) AS s2
              FROM d GROUP BY dim)
        SELECT CAST(dim AS INT) AS dim,
               round(CAST(s1 AS DOUBLE) / n / 1000000.0, 6) AS mean,
               round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n)
                     / 1000000.0, 6) AS std
        FROM s ORDER BY dim""")),

    // ---- SemDeDup (semantic dedup over embedding clusters, the
    //      cluster-then-pair pattern of arXiv:2303.09540): assign every
    //      vector to its nearest centroid, pair only WITHIN a cluster, and
    //      remove any vector that has a lower-id cluster-mate above the
    //      cosine threshold. Centroids here are the first-8 fixture vectors
    //      (deterministic, so the oracle replicates — a trained k-means
    //      slots into the same plan; see q105 for the training step).
    //      Scale posture: assignment is a broadcast of k centroid rows +
    //      a map-side argmax (k×dim is small even at k≈100k); pairing is
    //      an equi-join on c_id — the n² pair space shrinks to Σ n_c² and
    //      the paper's cluster-size cap bounds any one task, with salting
    //      as the skew fallback. No corpus-derived table is broadcast.
    QueryDef(
      "q104_semdedup",
      (s, dir) => {
        // The two join sides each re-derive `assigned` (AQE broadcasts one
        // side, and a broadcast exchange can't reuse a shuffle exchange) —
        // one extra LINEAR pass. q116 is the production shape: the same
        // pipeline with the assignment STAGED at the stage boundary
        // (operators/Staging.scala), derived exactly once.
        semdedupPairs(semdedupAssign(s, dir))
      },
      Some(semdedupOracle)),

    // ---- SemDeDup with the assignment materialized at the stage boundary
    //      (operators/Staging.scala — the reference's scratch-dir stage
    //      write, ExecDriver.java:94 / MoveTask.java): the clustering runs
    //      ONCE, publishes to scratch parquet, and both pairing sides scan
    //      the copy. Same semantics and oracle as q104; StagingSpec proves
    //      the executed pairing plan reads only the staged path (zero
    //      re-derivations). This is the pattern an iterated k-means or a
    //      100 TB SemDeDup run uses between rounds.
    QueryDef(
      "q116_semdedup_staged",
      (s, dir) =>
        semdedupPairs(Staging.stage(semdedupAssign(s, dir), "q116_assigned")),
      Some(semdedupOracle)),

    // ---- SemDeDup at the PAPER's operating point: arXiv:2303.09540 runs
    //      k ≈ √n clusters, so expected cluster size is √n and the
    //      within-cluster pair space is Σ n_c² ≈ n·√n, not n². The r17
    //      100× rehearsal demonstrated why the fixed-k teaching variants
    //      (q104/q116) cannot BE the scale plan: with k pinned at 8,
    //      cluster sizes grow linearly with the corpus and the pairing
    //      join went quadratic at 100× (single tasks of 29 CPU-minutes;
    //      run killed). Here k is derived from the data on BOTH sides
    //      (GREATEST(8, ceil(√n)) — the oracle computes it as a scalar
    //      subquery), and q119's WindowGroupLimit membership cap stays on
    //      as the mega-cluster/skew backstop. Broadcasting k≈√n centroids
    //      stays cheap at 100 TB scale: 10¹⁰ vectors → 10⁵ centroids ×
    //      64 dims × 8 B ≈ 50 MB, a normal broadcast.
    QueryDef(
      "q931_semdedup_sqrtk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val embN = t(s, dir, "embeddings")
          .transform(Sizing.spreadForCompute)
          .selectExpr("vec_id", "vec_normalize(embedding) AS ne")
        val k = math.max(8L, math.ceil(math.sqrt(
          t(s, dir, "embeddings").count().toDouble)).toLong)
        val cents = embN.filter(col("vec_id") < k)
          .selectExpr("vec_id AS c_id", "ne AS ce")
        val assigned = embN
          .crossJoin(broadcast(cents))
          .selectExpr("vec_id", "ne", "c_id",
            "round(vec_dot(ne, ce), 6) AS csim")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("vec_id"))
              .orderBy(col("csim").desc, col("c_id"))))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("ne"), col("c_id"))
        val capped = assigned
          .withColumn("mrk", row_number().over(
            Window.partitionBy(col("c_id")).orderBy(col("vec_id"))))
          .filter(col("mrk") <= 64)
          .select(col("vec_id"), col("ne"), col("c_id"))
        semdedupPairs(capped)
      },
      Some(s"""WITH eN AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ne
          FROM embeddings),
        cents AS (SELECT vec_id AS c_id, ne AS ce FROM eN
          WHERE vec_id < GREATEST(8,
            CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT))),
        assigned AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT e.vec_id, e.ne, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_sum(list_transform(range(1, len(e.ne) + 1),
                                i -> e.ne[i] * c.ce[i])), 6) DESC,
                              c.c_id) AS rk
            FROM eN e CROSS JOIN cents c)
          WHERE rk = 1),
        capped AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT vec_id, ne, c_id,
                   row_number() OVER (PARTITION BY c_id ORDER BY vec_id) AS mrk
            FROM assigned)
          WHERE mrk <= 64)
        SELECT b_id AS removed_id, c_id, min(a_id) AS keeper FROM (
          SELECT a.c_id, a.vec_id AS a_id, b.vec_id AS b_id,
                 round(list_sum(list_transform(range(1, len(a.ne) + 1),
                        i -> a.ne[i] * b.ne[i])), 4) AS sim
          FROM capped a JOIN capped b USING (c_id)
          WHERE a.vec_id < b.vec_id)
        WHERE sim >= 0.40 GROUP BY 1, 2 ORDER BY removed_id""")),

    // ---- SemDeDup with the paper's CLUSTER-SIZE CAP applied in-engine
    //      (arXiv:2303.09540 caps cluster membership before pairing). The
    //      30× rehearsal (SURVEY §6.10) shows why this is load-bearing:
    //      with unbounded clusters the within-cluster pairing's Σ n_c²
    //      term goes super-linear (α ≈ 1.5) the moment cluster sizes
    //      outgrow the centroid count. The cap bounds every task at
    //      C(cap, 2) pairs regardless of corpus size — deterministic
    //      membership (lowest vec_id per cluster ranks first) so the
    //      oracle replicates the selection exactly.
    QueryDef(
      "q119_semdedup_capped",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cap = 20 // small enough to BITE on the fixture (~25/cluster)
        // Mega-cluster safety: this `row_number() <= cap` shape compiles to
        // WindowGroupLimit(cap) in PARTIAL mode below the c_id exchange and
        // FINAL mode above it (Spark's InferWindowGroupLimit) — every map
        // task keeps ≤cap rows per cluster BEFORE the shuffle, so a
        // degenerate mega-cluster ships ≤ cap·partitions rows and the final
        // task sorts those, never the whole cluster. Same bounded-buffer
        // shape as the top_k aggregate (functions/TopK.scala), with the
        // argmax lineage derived once per pairing side instead of twice
        // (an agg + join-back formulation measured 1.7× slower end-to-end).
        // PlanShapeSpec pins the Partial WindowGroupLimit so a regression
        // in the pattern (e.g. a filter shape the rule stops recognizing)
        // fails loudly.
        val capped = semdedupAssign(s, dir)
          .withColumn("mrk", row_number().over(
            Window.partitionBy(col("c_id")).orderBy(col("vec_id"))))
          .filter(col("mrk") <= cap)
          .select(col("vec_id"), col("ne"), col("c_id"))
        semdedupPairs(capped)
      },
      Some(s"""WITH eN AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ne
          FROM embeddings),
        cents AS (SELECT vec_id AS c_id, ne AS ce FROM eN WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT e.vec_id, e.ne, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_sum(list_transform(range(1, len(e.ne) + 1),
                                i -> e.ne[i] * c.ce[i])), 6) DESC,
                              c.c_id) AS rk
            FROM eN e CROSS JOIN cents c)
          WHERE rk = 1),
        capped AS (
          SELECT vec_id, ne, c_id FROM (
            SELECT vec_id, ne, c_id,
                   row_number() OVER (PARTITION BY c_id ORDER BY vec_id) AS mrk
            FROM assigned)
          WHERE mrk <= 20)
        SELECT b_id AS removed_id, c_id, min(a_id) AS keeper FROM (
          SELECT a.c_id, a.vec_id AS a_id, b.vec_id AS b_id,
                 round(list_sum(list_transform(range(1, len(a.ne) + 1),
                        i -> a.ne[i] * b.ne[i])), 4) AS sim
          FROM capped a JOIN capped b USING (c_id)
          WHERE a.vec_id < b.vec_id)
        WHERE sim >= 0.40 GROUP BY 1, 2 ORDER BY removed_id""")),

    // ---- One exact Lloyd iteration of k-means over embeddings (the
    //      quantizer-training step feeding q75's IVF and q104's SemDeDup).
    //      Cross-engine exactness is the hard part of distributed k-means —
    //      a double mean is summation-order-dependent, so hash-aggregation
    //      order would diverge between engines AND between reruns. The
    //      update step therefore works in integer micro-units:
    //      round(x·10⁶) per component (exact on float inputs), an
    //      order-free BIGINT sum, and one correctly-rounded double division
    //      — every engine floors the same quotient. Scale posture: the
    //      update is one shuffle of (c_id, dim) pairs — metadata, not
    //      vectors — and both assignment passes are broadcast argmaxes;
    //      more Lloyd rounds = the same plan iterated (cf. q86's
    //      convergence-count discussion).
    QueryDef(
      "q105_kmeans_step",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val cents = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS c_id", "embedding AS ce")
        def assign(in: org.apache.spark.sql.DataFrame, cs: org.apache.spark.sql.DataFrame) =
          in.crossJoin(broadcast(cs))
            .selectExpr("*",
              s"""round(${cosine.replace("qe", "embedding").replace("ne", "ce")}, 6) AS csim""")
            .withColumn("rk", row_number().over(
              Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_id"))))
            .filter(col("rk") === 1)
        val a1 = assign(
          emb.selectExpr("vec_id", "embedding")
            .transform(Sizing.spreadForCompute), cents)
          .select(col("vec_id"), col("embedding"), col("c_id"))
        // integer-exact centroid update: micro-units sum order-free
        val c2 = a1
          .selectExpr("c_id", "posexplode(embedding) AS (dim, x)")
          .selectExpr("c_id", "dim",
            "cast(round(double(x) * 1000000.0D) AS bigint) AS micro")
          .groupBy(col("c_id"), col("dim"))
          .agg(expr("cast(floor(cast(sum(micro) AS double) / count(1)) AS double)").as("cval"))
          .groupBy(col("c_id"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, cval))), st -> st.cval)").as("ce"))
        assign(a1.selectExpr("vec_id", "embedding", "c_id AS c1"), c2)
          .selectExpr("vec_id", "c1", "c_id AS c2")
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH cents AS (
          SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        a1 AS (
          SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(${cosineDuck.replace("qe", "e.embedding").replace("ne", "c.ce")}, 6) DESC,
                              c.c_id) AS rk
            FROM embeddings e CROSS JOIN cents c)
          WHERE rk = 1),
        dimsum AS (
          SELECT c_id, i AS dim,
                 CAST(floor(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                            / count(*)) AS DOUBLE) AS cval
          FROM a1, unnest(range(1, len(embedding) + 1)) t(i)
          GROUP BY c_id, i),
        c2 AS (SELECT c_id, list(cval ORDER BY dim) AS ce FROM dimsum GROUP BY c_id),
        a2 AS (
          SELECT vec_id, c1, c_id AS c2 FROM (
            SELECT e.vec_id, e.c_id AS c1, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(${cosineDuck.replace("qe", "e.embedding").replace("ne", "c.ce")}, 6) DESC,
                              c.c_id) AS rk
            FROM a1 e CROSS JOIN c2 c)
          WHERE rk = 1)
        SELECT vec_id, c1, c2 FROM a2 ORDER BY vec_id""")),

    // ---- THREE Lloyd iterations with per-round STAGED centroids — the
    //      workload operators/Staging.scala exists for (VERDICT r5: "a
    //      production k-means-N-rounds wants checkpointed stages", the
    //      reference's one-MR-job-per-stage shape, ExecDriver.java:94).
    //      Each round is assign (broadcast-centroid argmax, q105's
    //      micro-unit-exact update) → update → stage: the staged write cuts
    //      the round boundary, so round N's job is one small plan over
    //      materialized round-N-1 centroids instead of an N-deep lineage
    //      re-analyzed and re-executed per round (and re-derived per
    //      reference if any round's output is used twice). Centroid
    //      updates stay in integer micro-units (order-free BIGINT sums,
    //      one correctly-rounded division) and cosine is scale-invariant,
    //      so micro-unit centroids assign identically — every round is
    //      engine-exact and the 3-round chain oracles as nested CTEs.
    QueryDef(
      "q117_kmeans_iterated",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
          .transform(Sizing.spreadForCompute)
          .selectExpr("vec_id", "embedding")
        def assign(cs: org.apache.spark.sql.DataFrame) =
          emb.crossJoin(broadcast(cs))
            .selectExpr("vec_id", "embedding", "c_id",
              s"""round(${cosine.replace("qe", "embedding").replace("ne", "ce")}, 6) AS csim""")
            .withColumn("rk", row_number().over(
              Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_id"))))
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("embedding"), col("c_id"))
        def update(a: org.apache.spark.sql.DataFrame) = a
          .selectExpr("c_id", "posexplode(embedding) AS (dim, x)")
          .selectExpr("c_id", "dim",
            "cast(round(double(x) * 1000000.0D) AS bigint) AS micro")
          .groupBy(col("c_id"), col("dim"))
          .agg(expr("cast(floor(cast(sum(micro) AS double) / count(1)) AS double)").as("cval"))
          .groupBy(col("c_id"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, cval))), st -> st.cval)").as("ce"))
        var cents = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS c_id", "embedding AS ce")
        for (r <- 1 to 3)
          cents = Staging.stage(update(assign(cents)), s"q117_cents_r$r")
        assign(cents)
          .groupBy(col("c_id"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("first_member"),
            sum(col("vec_id")).as("id_sum"))
          .orderBy(col("c_id"))
      },
      Some {
        def assignDuck(cents: String, out: String) =
          s"""$out AS (
            SELECT vec_id, embedding, c_id FROM (
              SELECT e.vec_id, e.embedding, c.c_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(${cosineDuck.replace("qe", "e.embedding").replace("ne", "c.ce")}, 6) DESC,
                                c.c_id) AS rk
              FROM embeddings e CROSS JOIN $cents c)
            WHERE rk = 1)"""
        def updateDuck(a: String, out: String) =
          s"""$out AS (
            SELECT c_id, list(cval ORDER BY dim) AS ce FROM (
              SELECT c_id, i AS dim,
                     CAST(floor(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                                / count(*)) AS DOUBLE) AS cval
              FROM $a, unnest(range(1, len(embedding) + 1)) t(i)
              GROUP BY c_id, i)
            GROUP BY c_id)"""
        s"""WITH cents0 AS (
            SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
          ${assignDuck("cents0", "a1")}, ${updateDuck("a1", "cents1")},
          ${assignDuck("cents1", "a2")}, ${updateDuck("a2", "cents2")},
          ${assignDuck("cents2", "a3")}, ${updateDuck("a3", "cents3")},
          ${assignDuck("cents3", "af")}
          SELECT c_id, count(*) AS n_members, min(vec_id) AS first_member,
                 CAST(sum(vec_id) AS BIGINT) AS id_sum
          FROM af GROUP BY c_id ORDER BY c_id"""
      }),

    // ---- Exact-substring duplication profile (the character-gram analogue
    //      of Lee et al. 2022's suffix-array dedup, sampled): 64-char grams
    //      at stride 16, a gram is "duplicated" when it appears in ≥2
    //      distinct docs; per doc report how much of its sampled surface is
    //      corpus-duplicated. Scale posture: only 16-byte gram HASHES
    //      shuffle (chars/16 rows per doc — the text never leaves its scan
    //      partition); the doc-frequency table is corpus-derived, so the
    //      join back is an UNHINTED shuffle equi-join on the gram hash —
    //      never a driver broadcast (the q92/q99 lesson). The stride trades
    //      boundary recall for a 16× row cut, like winnowing (q63).
    QueryDef(
      "q106_dup_grams",
      (s, dir) => {
        val grams = t(s, dir, "documents")
          .transform(Sizing.spreadForCompute)
          .filter(length(col("text")) >= 64)
          .selectExpr("doc_id",
            """explode(transform(sequence(1, length(text) - 63, 16),
                 p -> md5(substring(text, p, 64)))) AS h""")
        // the DF side re-derives `grams` (its map-side partial agg makes the
        // exchange non-reusable): a deliberate 2-scans-of-pruned-parquet
        // trade against the 1-scan alternative — groupBy(h) with
        // collect_list(doc_id) — whose per-gram doc buffer is unbounded on
        // a stop-gram (one task holding 10⁸ doc ids). Scans are cheap and
        // column-pruned; unbounded state is not.
        val dfreq = grams.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("ndoc"))
        grams.join(dfreq, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("ndoc") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .selectExpr("doc_id", "n_grams", "n_dup",
            "round(n_dup / n_grams, 4) AS dup_frac")
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
          SELECT doc_id, md5(substring(text, p, 64)) AS h
          FROM documents, unnest(range(1, len(text) - 62, 16)) t(p)
          WHERE len(text) >= 64),
        df AS (SELECT h, count(DISTINCT doc_id) AS ndoc FROM g GROUP BY h)
        SELECT doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN ndoc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               round(sum(CASE WHEN ndoc >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_frac
        FROM g JOIN df USING (h) GROUP BY doc_id ORDER BY doc_id"""))
  )
}
