package graft

/** Protect mode + TOUCH (the last §2.11 ALTER variants): NO_DROP blocks
  * DROP TABLE with the reference's message, OFFLINE takes a table out of
  * query service with ErrorMsg.OFFLINE_TABLE_OR_PARTITION, TOUCH bumps
  * transient_lastDdlTime.
  */
class ProtectSpec extends SparkSpec {

  test("ENABLE NO_DROP protects a table from DROP; DISABLE lifts it") {
    Protect.reset(spark)
    spark.sql("DROP TABLE IF EXISTS prot_t")
    spark.sql("CREATE TABLE prot_t (k BIGINT) USING parquet")
    HiveQl.sql(spark, "ALTER TABLE prot_t ENABLE NO_DROP")
    val e = intercept[Exception](HiveQl.sql(spark, "DROP TABLE prot_t"))
    assert(e.getMessage.contains("protected from being dropped"),
      "DDLTask.java:2998 message shape")
    // the intercept also guards the raw spark.sql entry point (statement
    // dispatch is parser-injected)
    val e2 = intercept[Exception](spark.sql("DROP TABLE prot_t"))
    assert(e2.getMessage.contains("protected from being dropped"))
    assert(spark.catalog.tableExists("prot_t"), "table survived both")
    HiveQl.sql(spark, "ALTER TABLE prot_t DISABLE NO_DROP")
    HiveQl.sql(spark, "DROP TABLE prot_t")
    assert(!spark.catalog.tableExists("prot_t"))
  }

  test("ENABLE OFFLINE blocks statements referencing the table") {
    Protect.reset(spark)
    Tables.registerAll(spark, sfDir)
    HiveQl.sql(spark, "ALTER TABLE nation ENABLE OFFLINE")
    try {
      val e = intercept[Exception](
        HiveQl.sql(spark, "SELECT count(*) FROM nation"))
      assert(e.getMessage.contains("Query against an offline table"),
        "ErrorMsg.java:172 message shape")
      // other tables unaffected
      assert(HiveQl.sql(spark, "SELECT count(*) AS c FROM region")
        .collect().head.getLong(0) == 5)
      // a multi-insert reading the offline table is refused before any
      // branch writes
      spark.sql("DROP TABLE IF EXISTS prot_mi_a")
      spark.sql("DROP TABLE IF EXISTS prot_mi_b")
      spark.sql("CREATE TABLE prot_mi_a (k BIGINT) USING parquet")
      spark.sql("CREATE TABLE prot_mi_b (k BIGINT) USING parquet")
      val mi = intercept[Exception](HiveQl.sql(spark,
        """FROM nation
           INSERT INTO TABLE prot_mi_a SELECT n_nationkey
           INSERT INTO TABLE prot_mi_b SELECT n_regionkey"""))
      assert(mi.getMessage.contains("Query against an offline table"))
      assert(spark.table("prot_mi_a").count() == 0)
    } finally {
      HiveQl.sql(spark, "ALTER TABLE nation DISABLE OFFLINE")
      spark.sql("DROP TABLE IF EXISTS prot_mi_a")
      spark.sql("DROP TABLE IF EXISTS prot_mi_b")
    }
    assert(HiveQl.sql(spark, "SELECT count(*) AS c FROM nation")
      .collect().head.getLong(0) == 25)
  }

  test("reset(spark) clears the persisted snapshot, not just memory") {
    // ADVICE r11: a NO_DROP persisted in one JVM must not resurrect after
    // a reset — the bare reset() left the snapshot on disk, so the next
    // JVM's first ensureLoaded failed unrelated DROP TABLE statements
    Protect.reset(spark)
    spark.sql("DROP TABLE IF EXISTS prot_p")
    spark.sql("CREATE TABLE prot_p (k BIGINT) USING parquet")
    HiveQl.sql(spark, "ALTER TABLE prot_p ENABLE NO_DROP")
    Protect.forgetInMemory() // simulated restart: reload from snapshot
    val e = intercept[Exception](HiveQl.sql(spark, "DROP TABLE prot_p"))
    assert(e.getMessage.contains("protected from being dropped"),
      "NO_DROP must survive the snapshot reload")
    Protect.reset(spark) // clears memory AND the snapshot
    Protect.forgetInMemory() // the next "JVM" must not resurrect NO_DROP
    HiveQl.sql(spark, "DROP TABLE prot_p")
    assert(!spark.catalog.tableExists("prot_p"))
  }

  test("TOUCH bumps transient_lastDdlTime on a catalog table") {
    Protect.reset(spark)
    spark.sql("DROP TABLE IF EXISTS touch_t")
    spark.sql("CREATE TABLE touch_t (k BIGINT) USING parquet")
    HiveQl.sql(spark, "ALTER TABLE touch_t TOUCH")
    val props = spark.sql("SHOW TBLPROPERTIES touch_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val t = props.get("transient_lastDdlTime").map(_.toLong)
    assert(t.exists(v => math.abs(v - System.currentTimeMillis() / 1000) < 120),
      s"touch must set a fresh DDL time, got $props")
    spark.sql("DROP TABLE touch_t")
  }

  private def ddlTime(table: String): Option[Long] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get("transient_lastDdlTime").map(_.trim.toLong)

  test("INSERT refreshes transient_lastDdlTime; HOLD_DDLTIME suppresses it " +
      "(SemanticAnalyzer.checkHoldDDLTime)") {
    spark.sql("DROP TABLE IF EXISTS hold_t")
    spark.sql("CREATE TABLE hold_t (k BIGINT) USING parquet")
    HiveQl.sql(spark, "INSERT INTO hold_t SELECT 1")
    val t1 = ddlTime("hold_t")
    assert(t1.nonEmpty, "plain INSERT must set the DDL time (loadTable path)")
    HiveQl.sql(spark, "INSERT INTO hold_t SELECT /*+ HOLD_DDLTIME */ 2")
    assert(ddlTime("hold_t") === t1, "hinted INSERT must not refresh it")
    HiveQl.sql(spark, "INSERT INTO hold_t SELECT 3")
    assert(ddlTime("hold_t").get > t1.get,
      "next plain INSERT refreshes (monotonic even within one second)")
    assert(HiveQl.sql(spark, "SELECT count(*) AS c FROM hold_t")
      .collect().head.getLong(0) === 3, "all three rows landed")
    spark.sql("DROP TABLE hold_t")
  }

  test("HOLD_DDLTIME rejects dynamic and non-existent partitions " +
      "(ErrorMsg.java:170)") {
    spark.sql("DROP TABLE IF EXISTS hold_p")
    spark.sql("CREATE TABLE hold_p (k BIGINT) USING parquet PARTITIONED BY (ds STRING)")
    spark.sql("INSERT INTO hold_p PARTITION(ds='a') SELECT 1")
    // existing static partition: allowed, and the DDL time stays put
    val t1 = ddlTime("hold_p")
    HiveQl.sql(spark,
      "INSERT INTO hold_p PARTITION(ds='a') SELECT /*+ HOLD_DDLTIME */ 2")
    assert(ddlTime("hold_p") === t1)
    val e1 = intercept[Exception](HiveQl.sql(spark,
      "INSERT INTO hold_p PARTITION(ds='zz') SELECT /*+ HOLD_DDLTIME */ 3"))
    assert(e1.getMessage.contains(
      "HOLD_DDLTIME hint cannot be applied to dynamic partitions or non-existent partitions"))
    val e2 = intercept[Exception](HiveQl.sql(spark,
      "INSERT INTO hold_p PARTITION(ds) SELECT /*+ HOLD_DDLTIME */ 4, 'b'"))
    assert(e2.getMessage.contains("HOLD_DDLTIME hint cannot be applied"))
    spark.sql("DROP TABLE hold_p")
  }

  test("EXPLAIN of an INSERT writes nothing and runs no post-hook") {
    spark.sql("DROP TABLE IF EXISTS explain_t")
    spark.sql("CREATE TABLE explain_t (k BIGINT) USING parquet")
    assert(ddlTime("explain_t").isEmpty)
    val plan = HiveQl.sql(spark, "EXPLAIN INSERT INTO explain_t SELECT 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("InsertInto"), plan)
    assert(ddlTime("explain_t").isEmpty,
      "an explained INSERT must not refresh the DDL time")
    assert(spark.table("explain_t").count() == 0)
    spark.sql("DROP TABLE explain_t")
  }
}
