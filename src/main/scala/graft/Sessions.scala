package graft

import org.apache.spark.sql.SparkSession

/** Single place every entry point (Verify / Bench / specs) builds its
  * SparkSession, so session-wide flags are uniform from creation instead of
  * being mutated mid-flight by table loads (order-independence).
  *
  * local[N] with N shuffle partitions models an N-slot cluster; at real scale
  * the same code runs unchanged with `spark.sql.shuffle.partitions` sized to
  * the cluster and AQE coalescing/skew-handling left on (defaults in Spark 4).
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Hive-0.8 error semantics, not ANSI (Spark 4 flipped the default):
      // invalid casts (UDFToInteger catches NumberFormatException → null),
      // out-of-range array indexes, and overflow (Java wrap) must not throw
      // for ported queries. One documented divergence: the reference's `/`
      // is raw Java double division (UDFOPDivide.java:48 — x/0 = Infinity);
      // non-ANSI Spark and every later Hive return NULL, which is what we
      // pin (q88_error_semantics).
      .config("spark.sql.ansi.enabled", "false")
      // If the events fixture is parquet TIMESTAMP(NANOS), surface it as a
      // raw Long (Spark otherwise rejects the footer); Tables.normalizeEventsTs
      // dispatches on the actual schema, so this is harmless when the
      // fixture is TIMESTAMP_MICROS.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ${...} substitution is done ONCE, with Hive semantics, in the
      // injected HiveDialectParser (VariableSubstitution.java: hivevar:/bare
      // lookups, unresolved stays LITERAL). Spark's native pass must not
      // run after it — it rewrites anything unresolved to empty string and
      // doesn't know the hivevar: namespace.
      .config("spark.sql.variable.substitute", "false")
      // Hive names view columns from the DDL list / auto-generates aliases
      // (create_view.q's view3) — Spark's permanent-view alias check is a
      // Spark-ism the dialect opts out of
      .config("spark.sql.legacy.allowAutoGeneratedAliasForView", "true")
      // Hive's dynamic-partition INSERT OVERWRITE replaces ONLY the
      // partitions the query writes (load_dyn_part4.q: a pre-seeded
      // partition survives a full-dynamic overwrite); Spark's default
      // `static` mode truncates the whole table first.
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      // Whole-stage codegen compile results are cached by generated source
      // text; the default cache holds 100 entries, which a 931-query run
      // churns through constantly (janino frames were a recurring runnable
      // sample in the bench jstack profile). Many queries share generated
      // stages (same fixture scans/counts), and the bench's convergence
      // passes re-plan identical queries — a deeper cache turns those into
      // hits. Driver-side memory only (weak classloader keys), and equally
      // useful on a cluster driver serving a many-query workload.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Every action builds a physical-plan description STRING for the
      // SQLExecutionStart event; the default mode is `formatted`, the most
      // expensive renderer (measured 4-8 ms PER ACTION at sf0.1 plan
      // sizes, with the UI off and nobody reading it). `simple` keeps a
      // usable one-line-per-operator description in the retained-execution
      // debug window at a fraction of the cost. Driver-side only; the
      // same win applies to any many-statement driver on a cluster.
      .config("spark.sql.ui.explainMode", "simple")
      // The UI is off, but the live status stores still retain 1000
      // executions / jobs / stages with full per-operator metrics — pure
      // GC pressure over a 931-query run. Keep a small debugging window.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      // Hadoop stream buffer: the core-default is 4 KB, so a 100 MB
      // SequenceFile/TEXTFILE write or read flushes/refills 25k times
      // (q922's 5M-row insert profile). 64 KB is the standard cluster
      // recommendation (HDFS docs) — not a local-only tweak.
      .config("spark.hadoop.io.file.buffer.size", "65536")
      // file:// without the per-create chmod fork and CRC sidecar (see
      // sources/FastLocalFs.scala). Local-mode only by construction: on a
      // cluster the warehouse is HDFS/S3 and fs.file.impl never fires.
      // SPARK_GRAFT_STOCK_LOCALFS=1 restores Hadoop's stock LocalFileSystem.
      .config("spark.hadoop.fs.file.impl",
        if (sys.env.contains("SPARK_GRAFT_STOCK_LOCALFS"))
          classOf[org.apache.hadoop.fs.LocalFileSystem].getName
        else classOf[sources.FastLocalFileSystem].getName)
      .withExtensions(GraftExtensions.inject)

  /** Build + finish session-scoped setup (builtin-shadowing names need a
    * live-registry force-register — extension injection does not reliably
    * beat the builtin).
    */
  def get(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    // Pin the JVM-cached file:// FileSystem NOW, with the session's own
    // hadoopConfiguration: Hadoop's FileSystem cache is scheme-keyed and
    // impl-blind, so whichever code path performs the first file:// lookup
    // decides Fast-vs-stock for everyone (ADVICE r17). Resolving it here
    // makes that first lookup deterministic.
    try org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    catch { case _: Exception => () }
    ensureRegistered(spark)
    spark
  }

  /** Conf marker on sessions produced by [[isolatedClone]]: tells
    * SparkEntry's registry wrapper the caller already isolated this
    * session, so a second clone (and its SessionState build) is wasted.
    */
  val IsolatedFlag = "graft.session.isolated"

  /** A conf-isolated clone of `s` (shared SparkContext + catalog, private
    * SQLConf/temp views/function registry), registered and marked. The
    * clone's SessionState is built lazily on first use — callers timing
    * queries should warm it (one trivial sql) before starting the clock.
    */
  def isolatedClone(s: SparkSession): SparkSession = {
    val qs = s.newSession()
    ensureRegistered(qs)
    qs.conf.set(IsolatedFlag, "true")
    qs
  }

  /** Defensive post-hoc registration for sessions NOT built by [[builder]]
    * (e.g. a driver-owned session calling into SparkEntry.queries directly):
    * injects the custom expressions and UDAFs idempotently so every query
    * runs on any session.
    */
  /** Pin the JAXP factories to the JDK defaults. Without the properties,
    * every `DocumentBuilderFactory.newInstance()` / `XPathFactory
    * .newInstance()` runs a ServiceLoader scan over every classpath jar
    * (hundreds under a Spark install) — and Spark's builtin xpath family
    * re-runs both per task instance (transient lazy evaluator). The graft
    * xpath kernel avoids the re-lookup structurally (functions/XPathFast
    * .scala); this covers any residual builtin XML path (from_xml etc.).
    * The pinned classes ARE the JDK's own defaults — the property only
    * short-circuits the lookup, it cannot change behavior. On a real
    * cluster the same -D pair goes in executor JVM options.
    */
  private def pinJaxp(): Unit = {
    def pin(k: String, v: String): Unit =
      if (System.getProperty(k) == null) System.setProperty(k, v)
    pin("javax.xml.parsers.DocumentBuilderFactory",
      "com.sun.org.apache.xerces.internal.jaxp.DocumentBuilderFactoryImpl")
    pin("javax.xml.parsers.SAXParserFactory",
      "com.sun.org.apache.xerces.internal.jaxp.SAXParserFactoryImpl")
    pin("javax.xml.xpath.XPathFactory:http://java.sun.com/jaxp/xpath/dom",
      "com.sun.org.apache.xpath.internal.jaxp.XPathFactoryImpl")
  }

  def ensureRegistered(spark: SparkSession): Unit = {
    pinJaxp()
    // Post-hoc fallback for sessions built WITHOUT GraftExtensions (a
    // resolution rule cannot be injected into an already-built
    // sessionState): the same Hive both-to-double comparison rewrite as a
    // user-provided optimizer rule. Catches every column-derived case (the
    // casts are still visible there); literal-only comparisons may already
    // be constant-folded by that batch — sessions built by [[builder]] get
    // the full analyzer-time rule and are unaffected (the rewritten shape
    // no longer matches, so the fallback is a no-op there).
    if (!spark.experimental.extraOptimizations.contains(plans.HiveComparisonCoercion))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.HiveComparisonCoercion
    // same fallback for the index rewrite (a session built without the
    // extensions still honors hive.optimize.index.filter)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[plans.IndexFilterRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new plans.IndexFilterRewrite(spark)
    // sessions not built by builder() (e.g. driver-owned) still need Hive
    // error semantics — same guarded-flip pattern as Tables.load's
    // nanosAsLong (runtime-mutable conf; never flips an explicit 'false')
    if (spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
      spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.allowAutoGeneratedAliasForView", "true")
    // every timestamp oracle (hour buckets, interval joins, streaming
    // windows vs DuckDB's naive time) assumes UTC; a foreign session
    // inheriting the JVM default timezone would shift buckets silently.
    // Same posture as the nanosAsLong guard (ADVICE r9): only flip when the
    // session owner never SET a timezone — an explicit non-UTC choice is
    // respected (and logged, since UTC-assuming oracles will then diverge).
    if (!spark.sessionState.conf.contains("spark.sql.session.timeZone"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    else if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "session timeZone is explicitly non-UTC; graft oracle queries assume UTC")
    val reg = spark.sessionState.functionRegistry
    functions.GraftFunctions.registrations.foreach { case (ident, info, builder) =>
      // names in overridesBuiltin exist in every registry (they shadow a
      // Spark builtin) — force-register those, skip-if-present for the rest
      if (functions.GraftFunctions.overridesBuiltin(ident.funcName) ||
          !reg.functionExists(ident))
        reg.registerFunction(ident, info, builder)
    }
  }
}
