package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** DDL + write-path surface (SURVEY.md §2.11, §7.2 M3): multi-insert
  * (Hive.g:1385-1419), dynamic partition overwrite (FileSinkOperator
  * dynamic-partition fan-out, FileSinkOperator.java:294), bucketed tables
  * (CLUSTERED BY ... INTO n BUCKETS → bucketBy) incl. the SMB-join
  * no-exchange guarantee (SMBMapJoinOperator.java:51), TABLESAMPLE, and
  * catalog statements.
  */
class SqlDialectSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def collectShuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect { case e: ShuffleExchangeExec => e }

  test("Hive dialect reaches RAW spark.sql via the injected session parser") {
    Tables.registerAll(spark, sfDir)
    // NOT routed through HiveQl.sql: the HiveDialectParser injection means
    // plain spark.sql (and thus Thrift clients, view re-parsing) accepts
    // Hive-0.8 forms — MAPJOIN hint spelling and TABLESAMPLE ... ON
    val p = spark.sql(
      """SELECT /*+ MAPJOIN(nation) */ n_name, count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    val sampled = spark.sql(
      "SELECT count(*) AS n FROM orders TABLESAMPLE (BUCKET 1 OUT OF 1 ON o_orderkey)")
      .collect()(0).getLong(0)
    assert(sampled == spark.table("orders").count())
    // ${hiveconf:} substitution through the same raw path
    spark.conf.set("dialect.probe.key", "42")
    assert(spark.sql("SELECT ${hiveconf:dialect.probe.key} AS v")
      .collect()(0).get(0).toString == "42")
    // STATEMENT forms plan as eager commands through raw spark.sql too
    // (HiveStatement / LeafRunnableCommand — the MoveTask/FunctionTask
    // shape): EXPORT → IMPORT round trip without touching HiveQl.sql
    spark.sql("DROP TABLE IF EXISTS dialect_exim_src")
    spark.sql("DROP TABLE IF EXISTS dialect_exim_dst")
    spark.sql("""CREATE TABLE dialect_exim_src USING parquet AS
      SELECT r_regionkey, r_name FROM region""")
    val dir = java.nio.file.Files.createTempDirectory("graft-dialect-exim").toString + "/exp"
    spark.sql(s"EXPORT TABLE dialect_exim_src TO '$dir'")
    spark.sql(s"IMPORT TABLE dialect_exim_dst FROM '$dir'")
    assert(spark.table("dialect_exim_dst").count() == 5)
    spark.sql("DROP TABLE dialect_exim_src")
    spark.sql("DROP TABLE dialect_exim_dst")
    // block comments with quote chars survive the pre-parser masking —
    // a plain spark.sql statement must not fail on `/* don't */`
    assert(spark.sql("SELECT 1 /* don't */ AS v").collect()(0).getInt(0) == 1)
  }

  test("multi-insert: one FROM fans out to several INSERTs (single statement)") {
    val wh = tmp("graft-mi")
    spark.sql(s"CREATE TABLE mi_small (k BIGINT, price DOUBLE) USING parquet LOCATION '$wh/small'")
    spark.sql(s"CREATE TABLE mi_large (k BIGINT, price DOUBLE) USING parquet LOCATION '$wh/large'")
    Tables.registerAll(spark, sfDir)
    spark.sql("""
      FROM orders
      INSERT OVERWRITE TABLE mi_small SELECT o_orderkey, o_totalprice WHERE o_totalprice < 50000
      INSERT OVERWRITE TABLE mi_large SELECT o_orderkey, o_totalprice WHERE o_totalprice >= 50000""")
    val nSmall = spark.table("mi_small").count()
    val nLarge = spark.table("mi_large").count()
    val total = Tables.load(spark, sfDir, "orders").count()
    assert(nSmall > 0 && nLarge > 0 && nSmall + nLarge == total)
    spark.sql("DROP TABLE mi_small")
    spark.sql("DROP TABLE mi_large")
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val dir = tmp("graft-dynpart")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // overwrite ONLY the 'A' partition with a single sentinel row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.createDataFrame(Seq((-1L, 0.0, "A")))
        .toDF("l_orderkey", "l_quantity", "l_returnflag")
        .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    val after = spark.read.parquet(dir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("A") == 1, s"A should be replaced: $after")
    assert(after("N") == before("N") && after("R") == before("R"),
      s"untouched partitions must survive: $before -> $after")
  }

  test("bucketed+sorted tables join without a shuffle (SMB join)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables.load(spark, sfDir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
    val n = joined.count()
    assert(n > 0)
    val shuffles = collectShuffles(joined.queryExecution.executedPlan)
    // join keys == bucket keys on both sides -> the join itself needs no
    // exchange; the only permissible shuffle is the final groupBy's, and
    // since grouping is also on the bucket key there should be none at all
    assert(shuffles.isEmpty,
      s"expected zero exchanges, got:\n${joined.queryExecution.executedPlan}")

    // ANALYZE feeds row-count stats into the catalog (StatsTask parity)
    spark.sql("ANALYZE TABLE b_orders COMPUTE STATISTICS")
    val stats = spark.sql("DESCRIBE TABLE EXTENDED b_orders").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1)).getOrElse("")
    val expectedRows = Tables.load(spark, sfDir, "orders").count()
    assert(stats.contains(s"$expectedRows rows"), s"stats missing rows: '$stats'")

    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")
  }

  test("TRANSFORM with custom ROW FORMAT DELIMITED delimiters") {
    Tables.registerAll(spark, sfDir)
    val rows = spark.sql(
      """SELECT TRANSFORM(o_orderkey, o_orderstatus)
           ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
           USING 'cat' AS (k STRING, v STRING)
           ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
         FROM orders WHERE o_orderkey <= 50""").collect()
    assert(rows.nonEmpty && rows.forall(r => r.getString(0).toLong <= 50))
  }

  test("SHUFFLE_HASH join hint is honored") {
    Tables.registerAll(spark, sfDir)
    val df = spark.sql(
      """SELECT /*+ SHUFFLE_HASH(nation) */ n_name, count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      s"hint ignored:\n${df.queryExecution.executedPlan}")
  }

  test("TABLESAMPLE and catalog statements parse and run") {
    Tables.registerAll(spark, sfDir)
    val sampled = spark.sql(
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE (10 PERCENT)").head().getLong(0)
    val total = Tables.load(spark, sfDir, "lineitem").count()
    assert(sampled > 0 && sampled < total)

    assert(spark.sql("SHOW TABLES").collect().nonEmpty)
    assert(spark.sql("DESCRIBE lineitem").collect()
      .exists(_.getString(0) == "l_orderkey"))
    assert(spark.sql("SELECT * FROM VALUES (1), (2) t(x)").count() == 2)
  }

  test("TABLESAMPLE BUCKET ON rewrite: bitand-before-mod predicate and aliasing") {
    // reference predicate is ((hash & Integer.MAX_VALUE) % y) == x-1
    // (SemanticAnalyzer.java:6089) — pmod(hash, y) diverges on negative
    // hashes with a non-power-of-two y
    val r1 = HiveQl.rewrite(
      "SELECT * FROM orders TABLESAMPLE (BUCKET 2 OUT OF 7 ON o_orderpriority) WHERE o_orderkey > 0")
    assert(r1.contains("(hash(o_orderpriority) & 2147483647) % 7 = 1"), r1)
    assert(r1.contains(") orders WHERE o_orderkey > 0"), r1) // keyword put back
    // a qualified name is not a legal alias — alias with the last segment
    val r2 = HiveQl.rewrite(
      "SELECT * FROM db.tbl TABLESAMPLE (BUCKET 1 OUT OF 32 ON k)")
    assert(r2.contains("FROM db.tbl WHERE") && r2.trim.endsWith(") tbl"), r2)
    // an explicit trailing alias becomes the subquery alias (no doubling)
    val r3 = HiveQl.rewrite(
      "SELECT s.k FROM tbl TABLESAMPLE (BUCKET 3 OUT OF 5 ON k) s JOIN u ON s.k = u.k")
    assert(r3.contains(") s JOIN u ON s.k = u.k"), r3)
    assert(!r3.matches("""(?s).*\)\s+tbl\s+s.*"""), r3)
  }

  test("TABLESAMPLE BUCKET with NO ON-clause: default table sample columns") {
    // SemanticAnalyzer.java:6240-6262 — no sample exprs → the TABLE'S
    // bucket columns; non-bucketed → NON_BUCKETED_TABLE (ErrorMsg.java:104)
    spark.sql("DROP TABLE IF EXISTS ts_bkt")
    spark.sql("DROP TABLE IF EXISTS ts_flat")
    spark.sql("CREATE TABLE ts_bkt (k INT, v STRING) USING parquet " +
      "CLUSTERED BY (k) INTO 4 BUCKETS")
    spark.sql("INSERT INTO ts_bkt SELECT id, CAST(id AS STRING) FROM range(100)")
    val r = HiveQl.sql(spark,
      "SELECT k FROM ts_bkt TABLESAMPLE (BUCKET 2 OUT OF 4) s").collect()
    // bucket 2 of 4 on an int key = (k & MAX) % 4 == 1
    assert(r.nonEmpty && r.forall(_.getInt(0) % 4 == 1), r.take(5).mkString(","))
    spark.sql("CREATE TABLE ts_flat (k INT) USING parquet")
    val e = intercept[Exception](HiveQl.sql(spark,
      "SELECT k FROM ts_flat TABLESAMPLE (BUCKET 1 OUT OF 2) s"))
    assert(e.getMessage.contains("Sampling expression needed for non-bucketed table"))
    spark.sql("DROP TABLE ts_bkt"); spark.sql("DROP TABLE ts_flat")
  }

  test("bare INSERT OVERWRITE DIRECTORY resolves to hivetext (union.q form)") {
    // Hive's destination KW_DIRECTORY writes LazySimpleSerDe text with no
    // format clause; Spark needs USING — the dialect supplies hivetext
    val r = HiveQl.rewrite("INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT * FROM t")
    assert(r.contains("DIRECTORY '/tmp/x' USING graft.sources.HiveTextSource"), r)
    // an explicit USING is left alone
    val r2 = HiveQl.rewrite(
      "INSERT OVERWRITE DIRECTORY '/tmp/x' USING parquet SELECT * FROM t")
    assert(r2.contains("USING parquet") &&
      !r2.contains("HiveTextSource"), r2)
    // end-to-end: the landed files are ^A-delimited Hive text
    val dir = java.nio.file.Files.createTempDirectory("iod_bare").toString + "/out"
    spark.range(3).selectExpr("id", "concat('v', id) AS v")
      .createOrReplaceTempView("iod_src")
    HiveQl.sql(spark,
      s"INSERT OVERWRITE DIRECTORY '$dir' SELECT id, v FROM iod_src")
    val back = spark.read.format("graft.sources.HiveTextSource")
      .schema("id BIGINT, v STRING").load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((0L, "v0"), (1L, "v1"), (2L, "v2")), back.toString)
  }

  test("ALTER TABLE CHANGE and REPLACE COLUMNS rewrite the catalog schema") {
    // rename_column.q / alter1.q forms: TOK_ALTERTABLE_RENAMECOL and
    // TOK_ALTERTABLE_REPLACECOLS — files are never rewritten
    spark.sql("DROP TABLE IF EXISTS altcol_t")
    HiveQl.sql(spark, "CREATE TABLE altcol_t(a int, b int)")
    HiveQl.sql(spark, "ALTER TABLE altcol_t CHANGE a x STRING AFTER b")
    assert(spark.table("altcol_t").schema.map(f => s"${f.name} ${f.dataType.sql}")
      == Seq("b INT", "x STRING"))
    HiveQl.sql(spark, "alter table altcol_t replace columns (a int, b int, c string)")
    assert(spark.table("altcol_t").schema.map(f => s"${f.name} ${f.dataType.sql}")
      == Seq("a INT", "b INT", "c STRING"))
    // unknown source column is the reference's loud error
    val e = intercept[Exception](
      HiveQl.sql(spark, "ALTER TABLE altcol_t CHANGE zz yy INT"))
    assert(e.getMessage.contains("Invalid column reference"), e.getMessage)
    spark.sql("DROP TABLE altcol_t")
  }

  test("REPLACE COLUMNS handles parameterized/nested types and COMMENT clauses") {
    // ADVICE r10: decimal(10,2) and map<string,int> carry commas/parens of
    // their own; COMMENT text may even contain a comma — the list must
    // split depth- and quote-aware, not on bare commas
    import org.apache.spark.sql.types._
    spark.sql("DROP TABLE IF EXISTS altcol_p")
    HiveQl.sql(spark, "CREATE TABLE altcol_p(a int)")
    HiveQl.sql(spark, "ALTER TABLE altcol_p REPLACE COLUMNS (" +
      "d decimal(10,2) COMMENT 'price, rounded', m map<string,int>, " +
      "s struct<x:int,y:string>)")
    val sch = spark.table("altcol_p").schema
    assert(sch.map(_.name) == Seq("d", "m", "s"))
    assert(sch("d").dataType == DecimalType(10, 2))
    assert(sch("m").dataType == MapType(StringType, IntegerType))
    assert(sch("s").dataType ==
      StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))
    spark.sql("DROP TABLE altcol_p")
  }

  test("PARTITIONED BY + ROW FORMAT DELIMITED ... TEXTFILE: USING clause hoists") {
    // ADVICE r10: the delimited rewrite emitted USING in place (after
    // PARTITIONED BY) — invalid Spark DDL. The hoist must reorder it.
    spark.sql("DROP TABLE IF EXISTS delim_part")
    // partitioned non-native tables can leave their location behind on
    // DROP (SourcesSpec's stale-warehouse note) — clear it so re-runs pass
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(wh, "delim_part"))
    HiveQl.sql(spark, "CREATE TABLE delim_part(a int, b string) " +
      "PARTITIONED BY (p string) " +
      "ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE")
    HiveQl.sql(spark, "INSERT OVERWRITE TABLE delim_part PARTITION (p='x') " +
      "SELECT 7, 'v'")
    val got = HiveQl.sql(spark, "SELECT a, b, p FROM delim_part").collect()
    assert(got.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      == Seq((7, "v", "x")))
    // the comma delimiter actually reached the hivetext writer
    val loc = spark.sql("DESCRIBE FORMATTED delim_part").collect()
      .find(_.getString(0).trim == "Location").get.getString(1).trim
    val files = new java.io.File(new java.net.URI(loc).getPath, "p=x")
      .listFiles.filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
    assert(new String(bytes, "UTF-8").startsWith("7,v"),
      s"expected comma-delimited row, got: ${new String(bytes, "UTF-8")}")
    spark.sql("DROP TABLE delim_part")
  }

  test("INSERT OVERWRITE LOCAL DIRECTORY must not be treated as a table target") {
    // ADVICE r10: the InsertTarget regex captured LOCAL as a table name,
    // issuing a stray SHOW TBLPROPERTIES LOCAL per statement
    val dir = tmp("graft-localdir")
    HiveQl.sql(spark,
      s"INSERT OVERWRITE LOCAL DIRECTORY '$dir/out' SELECT 1, 'z'")
    val files = new java.io.File(dir + "/out")
      .listFiles.filter(f => f.isFile && !f.getName.startsWith("_"))
    assert(files.nonEmpty, "directory insert must land files")
    // and a BACKQUOTED target still gets its DDL-time refresh
    spark.sql("DROP TABLE IF EXISTS `end`")
    spark.sql("CREATE TABLE `end` (k BIGINT) USING parquet")
    HiveQl.sql(spark, "INSERT INTO `end` SELECT 5")
    val props = spark.sql("SHOW TBLPROPERTIES `end`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("transient_lastDdlTime").exists(_.trim.forall(_.isDigit)),
      s"backquoted insert target must refresh transient_lastDdlTime, got $props")
    spark.sql("DROP TABLE `end`")
  }

  test("SET and ADD FILE command lines run through HiveQl (ql/processors analogue)") {
    // SET k=v (SetProcessor.java) and ADD FILE (AddResourceProcessor.java)
    // parse natively in Spark SQL — assert the whole command→effect loop
    HiveQl.sql(spark, "SET spark.sql.cbo.enabled=true")
    assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
    HiveQl.sql(spark, "SET spark.sql.cbo.enabled=false")
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false")

    val f = Files.createTempFile("graft-add", ".txt")
    Files.writeString(f, "resource-payload")
    HiveQl.sql(spark, s"ADD FILE $f")
    val listed = spark.sql("LIST FILES").collect().map(_.getString(0))
    assert(listed.exists(_.endsWith(f.getFileName.toString)), listed.mkString(","))
    // the distributed copy is what a TRANSFORM script would read — resolve
    // it from inside a task, where executors materialize added files
    val name = f.getFileName.toString
    val content = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        org.apache.spark.SparkFiles.get(name))), "UTF-8")
    }.collect().head
    assert(content == "resource-payload")
  }

  test("SET mapred.reduce.tasks=-1 (Hive's auto) restores the session's partition count") {
    val built = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      HiveQl.sql(spark, "SET mapred.reduce.tasks=31")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "31")
      HiveQl.sql(spark, "set mapred.reduce.tasks = -1;")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == Sessions.cpus)
      HiveQl.sql(spark, "SET mapred.reduce.tasks=31")
      HiveQl.sql(spark, "SET hiveconf:mapred.reduce.tasks=-1")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == Sessions.cpus)
    } finally spark.conf.set("spark.sql.shuffle.partitions", built)
  }

  test("CREATE TEMPORARY FUNCTION binds a graft class to a new name (FunctionTask.java)") {
    HiveQl.sql(spark,
      "CREATE TEMPORARY FUNCTION my_hash AS 'graft.functions.HiveHash08'")
    val r = spark.sql("SELECT my_hash(42) AS a, hash(42) AS b").head()
    assert(r.getInt(0) == r.getInt(1))
    HiveQl.sql(spark, "DROP TEMPORARY FUNCTION my_hash")
    intercept[Exception](spark.sql("SELECT my_hash(42)").collect())
    // IF EXISTS on an absent name is a no-op, not an error
    HiveQl.sql(spark, "DROP TEMPORARY FUNCTION IF EXISTS my_hash")
    // an unknown implementation class is refused with the available list
    val e = intercept[IllegalArgumentException](HiveQl.sql(spark,
      "CREATE TEMPORARY FUNCTION f AS 'com.example.NoSuchUdf'"))
    assert(e.getMessage.contains("graft.functions.HiveHash08"))
  }

  test("CTAS: CREATE TABLE AS SELECT materializes the query (Hive.g createTableStatement)") {
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS ctas_top")
    spark.sql("""CREATE TABLE ctas_top USING parquet AS
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) > 2""")
    val viaTable = spark.table("ctas_top").count()
    val direct = spark.sql(
      "SELECT count(*) FROM (SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 2)")
      .head().getLong(0)
    assert(viaTable == direct && viaTable > 0)
    spark.sql("DROP TABLE ctas_top")
  }

  test("DESCRIBE FUNCTION surfaces injected functions under their Hive names") {
    Sessions.ensureRegistered(spark)
    val d = spark.sql("DESCRIBE FUNCTION hash").collect().map(_.getString(0))
    assert(d.exists(_.contains("graft.functions.HiveHash08")), d.mkString("|"))
    val fns = spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    Seq("field", "hive_hash", "parse_url_tuple", "bitmap_agg", "ewah_bitmap",
      "create_union", "winnow_mins").foreach(f =>
      assert(fns.contains(f), s"$f missing from SHOW FUNCTIONS"))
  }

  test("CLUSTER BY / DISTRIBUTE BY / SORT BY SQL clauses parse and execute") {
    Tables.registerAll(spark, sfDir)
    val n1 = spark.sql(
      "SELECT l_orderkey FROM lineitem CLUSTER BY l_orderkey").count()
    val n2 = spark.sql(
      "SELECT l_orderkey FROM lineitem DISTRIBUTE BY l_orderkey SORT BY l_orderkey").count()
    val total = Tables.load(spark, sfDir, "lineitem").count()
    assert(n1 == total && n2 == total)
  }

  test("INSERT OVERWRITE a partition from a SELF-READ of the same table " +
      "(union22.q; Hive materializes inputs before the MoveTask swap)") {
    val t = "self_read_dst"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    HiveQl.sql(spark,
      s"create table $t(k string, v string) partitioned by (ds string)")
    HiveQl.sql(spark, s"insert overwrite table $t partition (ds='1') " +
      "select * from (values ('a','1'), ('b','2')) t(k, v)")
    // reads ds='1' of t while overwriting ds='2' of t — Spark alone
    // rejects this with UNSUPPORTED_OVERWRITE.TABLE
    HiveQl.sql(spark, s"insert overwrite table $t partition (ds='2') " +
      s"select k, concat(v, 'x') from $t where ds='1'")
    val got = HiveQl.sql(spark, s"select k, v, ds from $t order by ds, k")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("a", "1", "1"), ("b", "2", "1"),
      ("a", "1x", "2"), ("b", "2x", "2")), got.mkString(","))
    // re-running the self-read insert sees the PRE-insert dest (ds='1'
    // unchanged), per Hive's read-before-move semantics
    HiveQl.sql(spark, s"insert overwrite table $t partition (ds='2') " +
      s"select k, concat(v, 'y') from $t where ds='1'")
    val v2 = HiveQl.sql(spark, s"select v from $t where ds='2' order by v")
      .collect().map(_.getString(0))
    assert(v2.toSeq == Seq("1y", "2y"), v2.mkString(","))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
