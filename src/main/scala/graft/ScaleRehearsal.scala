package graft

/** Empirical scaling rehearsal (VERDICT r5 Next #5): grow the
  * documents/embeddings fixture ~10× with deterministic synthetic
  * variation, run the dedup/ANN/pipeline family at 1× and 10×, and print
  * per-query wall times + the scaling exponent α = log(t₁₀/t₁)/log(10)
  * (t ∝ nᵅ). α ≈ 1 is linear; anything ≫ 1.2 is a super-linear surprise
  * the analytical 100 TB arguments missed.
  *
  * Growth model (k = 0..9 replicas): replica text is prefixed with a
  * per-k marker, so replicas are NOT exact duplicates (q50's content key
  * differs) but ARE near-duplicates of their original (high Jaccard /
  * cosine) — the duplication structure a real 10× crawl shows, and the
  * worst case for the near-dup family since candidate clusters grow with
  * the replica factor. Embeddings get a per-(k, dim) micro-perturbation,
  * keeping replicas inside the original's cosine neighborhood.
  *
  * Usage: runMain graft.ScaleRehearsal <sf1Dir> <outDir> [queriesCsv] [factor]
  *   — writes the 10× fixture under <outDir> (documents.parquet,
  *   embeddings.parquet), then times each query at both scales
  *   (min of 2 passes, noop sink). Run EXCLUSIVELY (bench hygiene).
  */
object ScaleRehearsal {

  val DefaultQueries: Seq[String] = Seq(
    "q50_dedup_exact", "q51_dedup_jaccard", "q52_dedup_minhash",
    "q53_dedup_simhash", "q54_embed_knn", "q55_ann_lsh", "q86_dedup_clusters",
    "q102_decontam", "q103_domain_mix", "q104_semdedup", "q105_kmeans_step",
    "q106_dup_grams", "q114_corpus_pipeline", "q116_semdedup_staged",
    "q117_kmeans_iterated", "q121_minhash_capped", "q122_simhash_capped",
    "q124_substring_scrub", "q127_rcfile_roundtrip", "q128_seqfile_roundtrip",
    "q129_incremental_dedup", "q130_lifecycle", "q131_chained_admission",
    "q132_vec_admission", "q133_index_scan", "q134_bitmap_index",
    "q135_epoch_shuffle", "q136_quality_classifier", "q137_bm25")

  def main(args: Array[String]): Unit = {
    val sf1 = args(0)
    val out = args(1)
    val names = if (args.length > 2) args(2).split(",").toSeq else DefaultQueries
    val factor = if (args.length > 3) args(3).toInt else 10
    val spark = Sessions.get("graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    // lift the fixture truncations (Dedup.fixtureBound): the oracles need
    // small pair lists, but a rehearsal that keeps `doc_id < k` bounds
    // measures a CONSTANT query — replicas all land above the bound
    spark.conf.set("graft.rehearsal.unbounded", "true")

    // ---- 10× fixture (deterministic, same schema) ----
    val docs = Tables.load(spark, sf1, "documents")
    val nDocs = docs.selectExpr("max(doc_id)").head().getLong(0) + 1
    val reps = spark.range(factor).selectExpr("id AS k")
    docs.crossJoin(reps)
      .selectExpr(
        s"doc_id + k * ${nDocs}L AS doc_id",
        "CASE WHEN k = 0 THEN text ELSE concat('v', k, ' ', text) END AS text",
        "lang", "source",
        "CASE WHEN k = 0 THEN n_chars ELSE n_chars + 3 END AS n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = Tables.load(spark, sf1, "embeddings")
    val nVecs = emb.selectExpr("max(vec_id)").head().getLong(0) + 1
    emb.crossJoin(reps)
      .selectExpr(
        s"vec_id + k * ${nVecs}L AS vec_id",
        """CASE WHEN k = 0 THEN embedding
           ELSE transform(embedding,
             (x, i) -> cast(x + (pmod(k * 31 + i, 7) - 3) * 0.001 AS float))
           END AS embedding""",
        "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // part + customer feed the format round-trip queries (q127/q128):
    // plain key-shifted replication — the writers only care about volume
    val part = Tables.load(spark, sf1, "part")
    val nParts = part.selectExpr("max(p_partkey)").head().getLong(0) + 1
    part.crossJoin(reps)
      .selectExpr(Seq(s"p_partkey + k * ${nParts}L AS p_partkey") ++
        part.columns.filter(_ != "p_partkey"): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    val cust = Tables.load(spark, sf1, "customer")
    val nCust = cust.selectExpr("max(c_custkey)").head().getLong(0) + 1
    cust.crossJoin(reps)
      .selectExpr(Seq(s"c_custkey + k * ${nCust}L AS c_custkey") ++
        cust.columns.filter(_ != "c_custkey"): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // supplier feeds the HAR round trip (q138): key-shifted replication
    val sup = Tables.load(spark, sf1, "supplier")
    val nSup = sup.selectExpr("max(s_suppkey)").head().getLong(0) + 1
    sup.crossJoin(reps)
      .selectExpr(Seq(s"s_suppkey + k * ${nSup}L AS s_suppkey") ++
        sup.columns.filter(_ != "s_suppkey"): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // lineitem feeds the index queries (q133): key-shifted replication on
    // the order key; l_partkey kept as-is so the indexed point predicate
    // matches factor× more rows — the worst case for the index probe
    val li = Tables.load(spark, sf1, "lineitem")
    val nOrd = li.selectExpr("max(l_orderkey)").head().getLong(0) + 1
    li.crossJoin(reps)
      .selectExpr(Seq(s"l_orderkey + k * ${nOrd}L AS l_orderkey") ++
        li.columns.filter(_ != "l_orderkey"): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ---- time each query at 1× and 10× (min of 2; noop sink) ----
    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    // one warm pass so the first measured query isn't charged for JIT
    SparkEntry.queries(names.head)(spark, sf1)
      .write.format("noop").mode("overwrite").save()
    println(s"factor=$factor")
    println(f"${"query"}%-22s ${"t1x(s)"}%8s ${"tNx(s)"}%8s ${"alpha"}%6s")
    names.foreach { n =>
      try {
        val t1 = time(n, sf1)
        val t10 = time(n, out)
        val alpha = math.log(t10 / t1) / math.log(factor.toDouble)
        println(f"$n%-22s $t1%8.2f $t10%8.2f $alpha%6.2f")
      } catch { case e: Throwable =>
        println(f"$n%-22s FAILED ${e.getMessage}")
        e.printStackTrace(System.out)
      }
    }
    spark.stop()
  }
}
