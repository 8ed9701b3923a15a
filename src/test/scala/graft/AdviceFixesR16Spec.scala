package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** Round-16 ADVICE regressions: (1) an INSERT's own implicit concurrency
  * lock must not block the insert (Driver.acquireReadWriteLocks only
  * conflicts on foreign/explicit locks — lock1-3.q run inserts with
  * `hive.support.concurrency=true`); (2) strict-mode partition pruning
  * guards READ-side relations only (input39.q inserts into a partition
  * legally under strict); (3) Protect/Authz partition-pinning text match
  * needs a token boundary (`other_ds='x'` is not a constraint on `ds`);
  * (4) temp-function registry marks a name temporary only after a
  * SUCCESSFUL registration and forgets it on drop.
  */
class AdviceFixesR16Spec extends SparkSpec {

  private def fresh() = Sessions.isolatedClone(spark)

  private def purge(s: org.apache.spark.sql.SparkSession, names: String*): Unit =
    names.foreach { t =>
      try Authz.forgetObject(s, t) catch { case _: Exception => }
      try s.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Exception => }
      try {
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      } catch { case _: Exception => }
    }

  test("INSERT under hive.support.concurrency=true: own implicit lock never conflicts") {
    Locks.LocalLockManager.clearAll()
    val s = fresh()
    purge(s, "adv16_lk")
    s.sql("CREATE TABLE adv16_lk (key INT)")
    s.conf.set("hive.support.concurrency", "true")
    s.conf.set("hive.lock.numretries", "2")
    s.conf.set("hive.lock.sleep.between.retries", "0")
    try {
      val out = new PrintStream(new ByteArrayOutputStream())
      // full CLI path: withStatementLocks takes the implicit EXCLUSIVE on
      // the target BEFORE HiveQl.sql compiles the insert
      val (live, code) = GraftSql.process(s,
        "INSERT INTO TABLE adv16_lk SELECT 1", out, silent = true)
      assert(live && code == 0,
        "the statement's own implicit lock blocked its insert")
      assert(s.sql("SELECT * FROM adv16_lk").count() == 1)
      // a FOREIGN session's implicit lock on the target still refuses
      val d = Locks.LockData("q_foreign", System.currentTimeMillis(), "IMPLICIT")
      assert(Locks.manager.tryLockAll(
        Seq((Locks.lockName(s, "adv16_lk"), Locks.Shared, d)), "owner_elsewhere"))
      val e2 = intercept[IllegalStateException](GraftSql.process(s,
        "INSERT INTO TABLE adv16_lk SELECT 2", out, silent = true))
      assert(e2.getMessage.contains("cannot be acquired"),
        "foreign implicit lock must still conflict")
      Locks.manager.unlock(Locks.lockName(s, "adv16_lk"), "owner_elsewhere")
      // an EXPLICIT same-session lock still refuses (insert_into1.q)
      Locks.lockTable(s, "adv16_lk", "SHARED")
      val e3 = intercept[IllegalStateException](GraftSql.process(s,
        "INSERT INTO TABLE adv16_lk SELECT 3", out, silent = true))
      assert(e3.getMessage.contains("cannot be acquired"),
        "explicit lock must still conflict")
      Locks.unlockTable(s, "adv16_lk")
      assert(s.sql("SELECT * FROM adv16_lk").count() == 1)
    } finally {
      s.conf.set("hive.support.concurrency", "false")
      Locks.LocalLockManager.clearAll()
      purge(s, "adv16_lk")
    }
  }

  test("strict mode: write-target partition needs no predicate; reads still do") {
    val s = fresh()
    purge(s, "adv16_sp", "adv16_src")
    s.sql("CREATE TABLE adv16_src (key INT)")
    s.sql("INSERT INTO adv16_src VALUES (1), (2)")
    HiveQl.sql(s, "CREATE TABLE adv16_sp (key INT) PARTITIONED BY (ds STRING)")
    s.conf.set("hive.mapred.mode", "strict")
    try {
      // legal in the reference: the INSERT target is not a "read" of the
      // partitioned table (input39.q)
      HiveQl.sql(s,
        "INSERT OVERWRITE TABLE adv16_sp PARTITION (ds='1') " +
          "SELECT key FROM adv16_src")
      assert(HiveQl.sql(s, "SELECT * FROM adv16_sp WHERE ds='1'").count() == 2)
      // an unconstrained READ of the same table still refuses — including
      // as the source of an insert (only the write target is exempt)
      val e1 = intercept[Exception](HiveQl.sql(s,
        "SELECT count(*) FROM adv16_sp").collect())
      assert(e1.getMessage.contains("No partition predicate"))
      val e2 = intercept[Exception](HiveQl.sql(s,
        "INSERT OVERWRITE TABLE adv16_sp PARTITION (ds='2') " +
          "SELECT key FROM adv16_sp").collect())
      assert(e2.getMessage.contains("No partition predicate"))
      // a CTE body belongs to the query block that defines it: a filter in
      // the body or on the CTE's output prunes the table the body reads
      Seq("WITH s AS (SELECT * FROM adv16_sp WHERE ds='1') SELECT * FROM s",
        "WITH s AS (SELECT * FROM adv16_sp) SELECT * FROM s WHERE ds='1'").foreach { q =>
        assert(HiveQl.sql(s, q).count() == 2, q)
      }
      // an unfiltered CTE body still refuses; a subquery's filter prunes
      // only the subquery's own reads
      Seq("WITH s AS (SELECT * FROM adv16_sp) SELECT * FROM s",
        "SELECT * FROM adv16_sp WHERE key IN (SELECT key FROM adv16_sp WHERE ds='1')")
        .foreach { q =>
          val e = intercept[Exception](HiveQl.sql(s, q).collect())
          assert(e.getMessage.contains("No partition predicate"), q)
        }
    } finally {
      s.conf.set("hive.mapred.mode", "nonstrict")
      purge(s, "adv16_sp", "adv16_src")
    }
  }

  test("protect OFFLINE partition: other_ds filter is not a ds constraint") {
    val s = fresh()
    purge(s, "adv16_pr")
    HiveQl.sql(s, "CREATE TABLE adv16_pr (key INT, other_ds STRING) " +
      "PARTITIONED BY (ds STRING)")
    HiveQl.sql(s, "ALTER TABLE adv16_pr ADD PARTITION (ds='2010')")
    HiveQl.sql(s, "ALTER TABLE adv16_pr ADD PARTITION (ds='2011')")
    HiveQl.sql(s, "ALTER TABLE adv16_pr PARTITION (ds='2010') ENABLE OFFLINE")
    try {
      // a filter on the DATA column other_ds must not read as pinning the
      // partition column ds — this scan still includes the offline partition
      val e = intercept[Exception](HiveQl.sql(s,
        "SELECT key FROM adv16_pr WHERE other_ds='xyz'").collect())
      assert(e.getMessage.contains("offline"),
        s"substring ds= in other_ds= slipped past the offline guard: ${e.getMessage}")
      // genuinely pinned to another partition: passes
      assert(HiveQl.sql(s,
        "SELECT key FROM adv16_pr WHERE ds='2011'").count() == 0)
    } finally {
      HiveQl.sql(s, "ALTER TABLE adv16_pr PARTITION (ds='2010') DISABLE OFFLINE")
      purge(s, "adv16_pr")
    }
  }

  test("authz PARTITION_DENY: other_ds filter is not a ds constraint") {
    val s = fresh()
    purge(s, "adv16_az")
    HiveQl.sql(s, "CREATE TABLE adv16_az (key INT, other_ds STRING) " +
      "PARTITIONED BY (ds STRING)")
    HiveQl.sql(s, "ALTER TABLE adv16_az SET TBLPROPERTIES " +
      "(\"PARTITION_LEVEL_PRIVILEGE\"=\"TRUE\")")
    HiveQl.sql(s, "INSERT OVERWRITE TABLE adv16_az PARTITION (ds='2010') " +
      "SELECT 1, 'a'")
    HiveQl.sql(s, "INSERT OVERWRITE TABLE adv16_az PARTITION (ds='2011') " +
      "SELECT 2, 'b'")
    HiveQl.sql(s, "GRANT select ON TABLE adv16_az TO USER adv16_user")
    HiveQl.sql(s, "REVOKE select ON TABLE adv16_az PARTITION (ds='2010') " +
      "FROM USER adv16_user")
    s.conf.set("hive.security.authorization.enabled", "true")
    s.conf.set("hive.session.user", "adv16_user")
    try {
      // the denied ds=2010 partition is inside this scan's scope
      val e = intercept[Exception](HiveQl.sql(s,
        "SELECT key FROM adv16_az WHERE other_ds='b'").collect())
      assert(e.getMessage.contains("partitionName:ds=2010"),
        s"other_ds= slipped past the partition deny: ${e.getMessage}")
      // pinned to the still-granted partition: passes
      assert(HiveQl.sql(s,
        "SELECT key FROM adv16_az WHERE ds='2011'").count() == 1)
    } finally {
      s.conf.set("hive.security.authorization.enabled", "false")
      s.conf.unset("hive.session.user")
      purge(s, "adv16_az")
    }
  }

  test("temp function registry: failed CREATE leaves name undroppable; DROP forgets") {
    val s = fresh()
    intercept[Exception](HiveQl.sql(s,
      "CREATE TEMPORARY FUNCTION adv16_fn AS 'no.such.Class'"))
    // the failed create must NOT have marked the name temporary
    val e = intercept[Exception](HiveQl.sql(s,
      "DROP TEMPORARY FUNCTION adv16_fn"))
    assert(e.getMessage.contains("Invalid function"))
    // successful lifecycle: create → drop → second drop is loud again
    HiveQl.sql(s, "CREATE TEMPORARY FUNCTION adv16_fn AS " +
      "'org.apache.hadoop.hive.ql.udf.generic.GenericUDTFExplode'")
    HiveQl.sql(s, "DROP TEMPORARY FUNCTION adv16_fn")
    val e2 = intercept[Exception](HiveQl.sql(s,
      "DROP TEMPORARY FUNCTION adv16_fn"))
    assert(e2.getMessage.contains("Invalid function"))
    HiveQl.sql(s, "DROP TEMPORARY FUNCTION IF EXISTS adv16_fn")
  }
}
