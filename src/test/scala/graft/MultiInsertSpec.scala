package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll

/** Multi-insert single-scan executor (SURVEY §7.4 hard part 3; ref
  * parse/Hive.g:1385-1419, SemanticAnalyzer.java:1385-1419 — one map phase
  * feeds N FileSinks). The scan assertions count executed
  * FileSourceScanExec nodes over a source: a source over the 32 MB cache
  * rule is read by every branch from the InMemoryRelation (0 top-level file
  * scans — the one real scan happens inside the cache fill, which Spark
  * materializes exactly once), while the small fixture tables stay under
  * the rule and every branch re-scans them (N file scans). The 0-vs-N pair
  * is the single-scan evidence.
  */
class MultiInsertSpec extends SparkSpec with BeforeAndAfterAll {

  private val bigRoot = Files.createTempDirectory("graft-mi-big")

  /** A parquet source written uncompressed so its on-disk size crosses the
    * cache rule even after pruning to the (k, v) columns the branches read;
    * `pad` is the column no branch references. */
  private lazy val bigDir: String = {
    val dir = bigRoot.toString + "/big"
    spark.range(1000000).selectExpr("id AS k", "md5(CAST(id AS STRING)) AS v",
        "md5(CAST(-id AS STRING)) AS pad")
      .write.option("compression", "none").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("mis_big")
    dir
  }

  // the source is about 80 MB on disk
  override def afterAll(): Unit =
    try {
      spark.catalog.dropTempView("mis_big")
      org.apache.commons.io.FileUtils.deleteDirectory(bigRoot.toFile)
    } finally super.afterAll()

  /** every node of an executed plan, through AQE wrappers (a cached
    * relation's scan is a leaf: it reads blocks, not files) */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** What every query executed in `body` read: per root path, its
    * top-level file scans; and the columns of the cached relations read. */
  private case class Reads(plans: Seq[SparkPlan]) {
    def fileScans(needle: String): Int = plans.flatMap(nodes).count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(needle))
      case _ => false
    }
    def cachedColumns: Set[String] = plans.flatMap(nodes).collect {
      case m: InMemoryTableScanExec => m.relation.output.map(_.name.toLowerCase)
    }.flatten.toSet
  }

  /** the executed plans of every query run in `body`
    * (QueryExecutionListener is async — poll until the count is stable)
    */
  private def observe(body: => Unit): Reads = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 5 && System.nanoTime() < deadline) {
        val cur = seen.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(l)
    Reads(seen.asScala.toSeq)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def count(q: String): Long = spark.sql(q).collect()(0).getLong(0)

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("multi-insert scans the common source once (0 file scans vs N uncached)") {
    Tables.registerAll(spark, sfDir)
    val big = bigDir
    val wh = tmp("graft-mi-simple")
    for (t <- Seq("mis_b1", "mis_b2"))
      spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) USING parquet LOCATION '$wh/$t'")
    for (t <- Seq("mis_s1", "mis_s2"))
      spark.sql(s"CREATE TABLE $t (k BIGINT, price DOUBLE) USING parquet LOCATION '$wh/$t'")
    try {
      val large = observe { HiveQl.sql(spark, """
        FROM mis_big
        INSERT OVERWRITE TABLE mis_b1 SELECT k, v WHERE k < 1000
        INSERT OVERWRITE TABLE mis_b2 SELECT k, upper(v) WHERE k >= 999000""") }
      val small = observe { HiveQl.sql(spark, """
        FROM orders
        INSERT OVERWRITE TABLE mis_s1 SELECT o_orderkey, o_totalprice WHERE o_totalprice < 150000
        INSERT OVERWRITE TABLE mis_s2 SELECT o_orderkey, o_totalprice WHERE o_totalprice >= 150000""") }

      assert(rows(spark.table("mis_b1")) ==
        rows(spark.sql("SELECT k, v FROM mis_big WHERE k < 1000")))
      assert(rows(spark.table("mis_b2")) ==
        rows(spark.sql("SELECT k, upper(v) FROM mis_big WHERE k >= 999000")))
      val total = spark.table("orders").count()
      val (na, nb) = (spark.table("mis_s1").count(), spark.table("mis_s2").count())
      assert(na > 0 && nb > 0 && na + nb == total,
        s"branches must partition the source: mis_s1=$na mis_s2=$nb total=$total")

      assert(large.fileScans(big) == 0,
        s"cached fan-out must not re-scan source files per branch, saw ${large.fileScans(big)}")
      assert(small.fileScans("orders") == 2,
        s"a source under the cache rule is re-scanned per branch, saw ${small.fileScans("orders")}")
      // the cache holds exactly the referenced columns
      assert(large.cachedColumns == Set("k", "v"), large.cachedColumns)
      assert(small.cachedColumns.isEmpty, small.cachedColumns)
    } finally dropAll("mis_b1", "mis_b2", "mis_s1", "mis_s2")
  }

  test("WHERE-less and aggregate branches work; subquery source is cached") {
    Tables.registerAll(spark, sfDir)
    val big = bigDir
    val wh = tmp("graft-mi-sub")
    spark.sql(s"CREATE TABLE mis_cnt (st STRING, n BIGINT) USING parquet LOCATION '$wh/cnt'")
    spark.sql(s"CREATE TABLE mis_all (k BIGINT) USING parquet LOCATION '$wh/all'")
    spark.sql(s"CREATE TABLE mis_bcnt (r BIGINT, n BIGINT) USING parquet LOCATION '$wh/bcnt'")
    spark.sql(s"CREATE TABLE mis_ball (k BIGINT) USING parquet LOCATION '$wh/ball'")
    try {
      val small = observe { HiveQl.sql(spark, """
        FROM (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey <= 100) src
        INSERT OVERWRITE TABLE mis_cnt SELECT o_orderstatus, count(*) GROUP BY o_orderstatus
        INSERT OVERWRITE TABLE mis_all SELECT o_orderkey""") }
      val cnt = spark.table("mis_cnt").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val all = spark.table("mis_all").count()
      assert(all == cnt.values.sum &&
        all == count("SELECT count(*) FROM orders WHERE o_orderkey <= 100"))
      assert(small.fileScans("orders") == 2, s"saw ${small.fileScans("orders")}")

      val large = observe { HiveQl.sql(spark, """
        FROM (SELECT k, v, pad FROM mis_big WHERE k % 100 = 0) s
        INSERT OVERWRITE TABLE mis_bcnt SELECT k % 7, count(*) GROUP BY k % 7
        INSERT OVERWRITE TABLE mis_ball SELECT k WHERE v < '8'""") }
      assert(rows(spark.table("mis_bcnt")) == rows(spark.sql(
        "SELECT k % 7, count(*) FROM mis_big WHERE k % 100 = 0 GROUP BY k % 7")))
      assert(rows(spark.table("mis_ball")) == rows(spark.sql(
        "SELECT k FROM mis_big WHERE k % 100 = 0 AND v < '8'")))
      assert(large.fileScans(big) == 0, s"saw ${large.fileScans(big)}")
      assert(large.cachedColumns == Set("k", "v"), large.cachedColumns)
    } finally dropAll("mis_cnt", "mis_all", "mis_bcnt", "mis_ball")
  }

  test("partitioned INSERT branches (static + dynamic partition spec)") {
    Tables.registerAll(spark, sfDir)
    val wh = tmp("graft-mi-part")
    spark.sql(s"""CREATE TABLE mis_ps (k BIGINT) USING parquet
      PARTITIONED BY (tag STRING) LOCATION '$wh/ps'""")
    spark.sql(s"""CREATE TABLE mis_pd (k BIGINT) USING parquet
      PARTITIONED BY (st STRING) LOCATION '$wh/pd'""")
    try {
      HiveQl.sql(spark, """
        FROM orders
        INSERT OVERWRITE TABLE mis_ps PARTITION (tag='lo') SELECT o_orderkey WHERE o_orderkey <= 50
        INSERT OVERWRITE TABLE mis_pd PARTITION (st) SELECT o_orderkey, o_orderstatus WHERE o_orderkey <= 500""")
      assert(spark.table("mis_ps").filter(col("tag") === "lo").count() ==
        count("SELECT count(*) FROM orders WHERE o_orderkey <= 50"))
      val byStatus = spark.table("mis_pd").groupBy("st").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = spark.sql("""SELECT o_orderstatus, count(*) FROM orders
          WHERE o_orderkey <= 500 GROUP BY o_orderstatus""")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStatus == exp, s"dynamic partitions must fan out: $byStatus vs $exp")
    } finally dropAll("mis_ps", "mis_pd")
  }

  test("join-shaped source is shared per table: the large side is scanned once") {
    Tables.registerAll(spark, sfDir)
    val big = bigDir
    val wh = tmp("graft-mi-join")
    for (t <- Seq("mis_j1", "mis_j2"))
      spark.sql(s"CREATE TABLE $t (n STRING, v STRING) USING parquet LOCATION '$wh/$t'")
    try {
      // each branch re-runs the join over the cached large side's blocks;
      // the small side stays under the cache rule and is re-scanned
      val reads = observe { HiveQl.sql(spark, """
        FROM mis_big b JOIN nation n ON b.k % 25 = n.n_nationkey
        INSERT OVERWRITE TABLE mis_j1 SELECT n.n_name, b.v WHERE b.k < 100
        INSERT OVERWRITE TABLE mis_j2 SELECT n_name, v WHERE k >= 999900""") }
      assert(rows(spark.table("mis_j1")) == rows(spark.sql("""SELECT n.n_name, b.v
        FROM mis_big b JOIN nation n ON b.k % 25 = n.n_nationkey WHERE b.k < 100""")))
      assert(rows(spark.table("mis_j2")) == rows(spark.sql("""SELECT n_name, v
        FROM mis_big b JOIN nation n ON b.k % 25 = n.n_nationkey WHERE k >= 999900""")))
      assert(spark.table("mis_j1").count() == 100)
      assert(reads.fileScans(big) == 0 && reads.fileScans("nation") == 2,
        s"big=${reads.fileScans(big)} nation=${reads.fileScans("nation")}")
      // pruned per table: the branch and join-key columns of the large side
      assert(reads.cachedColumns == Set("k", "v"), reads.cachedColumns)
    } finally dropAll("mis_j1", "mis_j2")
  }

  test("join source with parens/JOIN inside an ON string literal") {
    Tables.registerAll(spark, sfDir)
    val wh = tmp("graft-mi-lit")
    for (t <- Seq("mis_l1", "mis_l2"))
      spark.sql(s"CREATE TABLE $t (n STRING) USING parquet LOCATION '$wh/$t'")
    try {
      // the ON condition carries a literal with an unbalanced paren AND a
      // JOIN keyword, which must reach the executed branches intact
      val reads = observe { HiveQl.sql(spark, """
        FROM nation JOIN region ON n_regionkey = r_regionkey
             AND r_name != '(x JOIN'
        INSERT OVERWRITE TABLE mis_l1 SELECT n_name WHERE r_name = 'ASIA'
        INSERT OVERWRITE TABLE mis_l2 SELECT r_name WHERE n_name = 'NATION_3'""") }
      val asia = count("""SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'""")
      assert(spark.table("mis_l1").count() == asia && asia > 0)
      assert(spark.table("mis_l2").count() == 1) // each nation joins exactly one region
      assert(reads.fileScans("nation") == 2 && reads.fileScans("region") == 2,
        s"nation=${reads.fileScans("nation")} region=${reads.fileScans("region")}")
    } finally dropAll("mis_l1", "mis_l2")
  }

  test("a select-list literal holding a tail keyword stays a literal") {
    Tables.registerAll(spark, sfDir)
    val wh = tmp("graft-mi-kw")
    spark.sql(s"CREATE TABLE mis_w1 (s STRING, k BIGINT) USING parquet LOCATION '$wh/w1'")
    spark.sql(s"CREATE TABLE mis_w2 (s STRING, n BIGINT) USING parquet LOCATION '$wh/w2'")
    try {
      HiveQl.sql(spark, """
        FROM orders
        INSERT OVERWRITE TABLE mis_w1 SELECT concat(o_orderstatus, ' where '), o_orderkey
          WHERE o_orderkey < 50
        INSERT OVERWRITE TABLE mis_w2 SELECT concat(o_orderstatus, ' group '), count(*)
          GROUP BY o_orderstatus""")
      val w1 = rows(spark.table("mis_w1"))
      assert(w1.nonEmpty && w1 == rows(spark.sql("""SELECT concat(o_orderstatus, ' where '),
        o_orderkey FROM orders WHERE o_orderkey < 50""")))
      assert(rows(spark.table("mis_w2")) == rows(spark.sql("""SELECT
        concat(o_orderstatus, ' group '), count(*) FROM orders GROUP BY o_orderstatus""")))
    } finally dropAll("mis_w1", "mis_w2")
  }

  test("table, backticked and DIRECTORY branches share one scan") {
    val big = bigDir
    val wh = tmp("graft-mi-dir")
    spark.sql(s"CREATE TABLE mis_t (k BIGINT) USING parquet LOCATION '$wh/t'")
    spark.sql(s"CREATE TABLE `123mis` (k BIGINT, v STRING) USING parquet LOCATION '$wh/q'")
    val out = s"$wh/out"
    try {
      val reads = observe { HiveQl.sql(spark, s"""
        FROM mis_big
        INSERT OVERWRITE TABLE mis_t SELECT k WHERE k < 10
        INSERT INTO `123mis` SELECT k, v WHERE k BETWEEN 10 AND 19
        INSERT OVERWRITE DIRECTORY '$out' SELECT k, v WHERE k >= 999995""") }
      assert(rows(spark.table("mis_t")) == (0 until 10).map(_.toString).sorted)
      assert(rows(spark.table("`123mis`")) ==
        rows(spark.sql("SELECT k, v FROM mis_big WHERE k BETWEEN 10 AND 19")))
      val landed = spark.read.format("graft.sources.HiveTextSource")
        .schema("k BIGINT, v STRING").load(out)
      assert(rows(landed) == rows(spark.sql("SELECT k, v FROM mis_big WHERE k >= 999995")))
      assert(reads.fileScans(big) == 0, s"saw ${reads.fileScans(big)}")
    } finally dropAll("mis_t", "`123mis`")
  }
}
