package graft

/** Concurrency locking (closes the §7.5 ZooKeeper-locking drop): explicit
  * LOCK/UNLOCK TABLE + SHOW LOCKS statements, the shared/exclusive
  * conflict matrix across sessions, the retry loop, and implicit
  * statement-scoped locks (Driver.acquireReadWriteLocks semantics over
  * the pluggable LocalLockManager).
  */
class LockSpec extends SparkSpec {

  private def fastRetries(s: org.apache.spark.sql.SparkSession): Unit = {
    s.conf.set("hive.lock.numretries", "2")
    s.conf.set("hive.lock.sleep.between.retries", "0")
  }

  test("explicit LOCK/UNLOCK/SHOW LOCKS statement surface") {
    Locks.LocalLockManager.clearAll()
    fastRetries(spark)
    HiveQl.sql(spark, "LOCK TABLE nation SHARED")
    val shown = HiveQl.sql(spark, "SHOW LOCKS")
    assert(shown.columns.toSeq == Seq("tab_name", "mode"))
    assert(shown.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("default@nation", "SHARED")),
      "HiveLockObject.getDisplayName db@table form")
    // extended carries the HiveLockObjectData triple
    val ext = HiveQl.sql(spark, "SHOW LOCKS nation EXTENDED")
    assert(ext.columns.toSeq ==
      Seq("tab_name", "mode", "lock_queryid", "lock_time", "lock_mode"))
    assert(ext.collect().head.getString(4) == "EXPLICIT")
    HiveQl.sql(spark, "UNLOCK TABLE nation")
    assert(HiveQl.sql(spark, "SHOW LOCKS").count() == 0)
    // unlock of an unlocked table is loud
    val e = intercept[Exception](HiveQl.sql(spark, "UNLOCK TABLE nation"))
    assert(e.getMessage.contains("not locked"))
  }

  test("conflict matrix: SHARED coexists, EXCLUSIVE excludes, across sessions") {
    Locks.LocalLockManager.clearAll()
    val s2 = spark.newSession()
    fastRetries(spark); fastRetries(s2)
    // shared + shared from two sessions: fine
    Locks.lockTable(spark, "orders", "SHARED")
    Locks.lockTable(s2, "orders", "SHARED")
    assert(Locks.manager.getLocks(Some("default@orders")).size == 2)
    // exclusive against a foreign shared: retries then fails loud
    val e = intercept[IllegalStateException](
      Locks.lockTable(s2, "orders", "EXCLUSIVE"))
    assert(e.getMessage.contains("cannot be acquired"))
    // release the foreign holder; an explicit EXCLUSIVE still refuses
    // over the session's OWN standing shared lock — explicit locks are
    // not mode-upgradable (clientnegative lockneg1.q)
    Locks.unlockTable(spark, "orders")
    intercept[IllegalStateException](Locks.lockTable(s2, "orders", "EXCLUSIVE"))
    Locks.unlockTable(s2, "orders")
    Locks.lockTable(s2, "orders", "EXCLUSIVE")
    // any mode against a foreign exclusive fails
    intercept[IllegalStateException](Locks.lockTable(spark, "orders", "SHARED"))
    intercept[IllegalStateException](Locks.lockTable(spark, "orders", "EXCLUSIVE"))
    // a same-session SHARED may still stack beside its own exclusive
    Locks.lockTable(s2, "orders", "SHARED")
    // SHOW LOCKS sorts EXCLUSIVE before SHARED at the same name
    // (DDLTask.showLocks comparator)
    assert(Locks.showLocks(s2, None, extended = false)
      .map(_.getString(1)).toSeq == Seq("EXCLUSIVE", "SHARED"))
    Locks.LocalLockManager.clearAll()
  }

  test("implicit statement locks: inputs SHARED, insert target EXCLUSIVE") {
    Locks.LocalLockManager.clearAll()
    fastRetries(spark)
    Tables.registerAll(spark, sfDir)
    val objs = Locks.lockObjectsFor(spark,
      "SELECT * FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey")
    assert(objs.map(o => (o._1, o._2)).toSet ==
      Set(("default@nation", Locks.Shared), ("default@region", Locks.Shared),
        ("default", Locks.Shared)),
      "inputs + current database SHARED (Driver.java:781-786,812-819)")

    spark.sql("DROP TABLE IF EXISTS lock_sink")
    spark.sql("CREATE TABLE lock_sink (k BIGINT) USING parquet")
    val ins = Locks.lockObjectsFor(spark,
      "INSERT INTO lock_sink SELECT n_nationkey FROM nation")
    assert(ins.collect { case (n, m, _) if n == "default@lock_sink" => m } ==
      Seq(Locks.Exclusive), "insert target EXCLUSIVE (Driver.java:790-793)")
    assert(ins.collect { case (n, m, _) if n == "default@nation" => m } ==
      Seq(Locks.Shared))
    // a multi-insert locks every target EXCLUSIVE and its source SHARED
    val multi = Locks.lockObjectsFor(spark,
      """FROM nation
         INSERT INTO TABLE lock_sink SELECT n_nationkey
         INSERT OVERWRITE TABLE lock_sink2 SELECT n_regionkey""")
    assert(multi.map(o => (o._1, o._2)) == Seq(("default", Locks.Shared),
      ("default@lock_sink", Locks.Exclusive), ("default@lock_sink2", Locks.Exclusive),
      ("default@nation", Locks.Shared)))
    // lock planning reads the statement as it runs: under hive.test.mode
    // the INSERT writes, and so locks, the prefixed table
    spark.conf.set("hive.test.mode", "true")
    spark.conf.set("hive.test.mode.nosamplelist", "nation")
    try assert(Locks.lockObjectsFor(spark,
        "INSERT INTO TABLE lock_sink SELECT n_nationkey FROM nation")
      .collect { case (n, Locks.Exclusive, _) => n } == Seq("default@test_lock_sink"))
    finally {
      spark.conf.unset("hive.test.mode")
      spark.conf.unset("hive.test.mode.nosamplelist")
    }

    // held during the statement, gone after (release-in-finally)
    spark.conf.set("hive.support.concurrency", "true")
    try {
      var during: Seq[Locks.HeldLock] = Nil
      Locks.withStatementLocks(spark, "SELECT count(*) FROM nation") {
        during = Locks.manager.getLocks(None)
      }
      assert(during.exists(h =>
        h.name == "default@nation" && h.mode == Locks.Shared &&
          h.data.lockMode == "IMPLICIT"))
      assert(Locks.manager.getLocks(None).isEmpty, "released after statement")
      // a statement's implicit release leaves an explicit lock standing
      Locks.lockTable(spark, "nation", "SHARED")
      Locks.withStatementLocks(spark, "SELECT count(*) FROM nation") {}
      assert(Locks.manager.getLocks(Some("default@nation")).size == 1)
      assert(Locks.manager.getLocks(None).head.data.lockMode == "EXPLICIT")
      Locks.unlockTable(spark, "nation")
    } finally {
      spark.conf.unset("hive.support.concurrency")
      spark.sql("DROP TABLE IF EXISTS lock_sink")
      Locks.LocalLockManager.clearAll()
    }
  }

  test("a statement releases only ITS OWN implicit locks (per-queryId)") {
    Locks.LocalLockManager.clearAll()
    fastRetries(spark)
    spark.conf.set("hive.support.concurrency", "true")
    try {
      Tables.registerAll(spark, sfDir)
      // statement A holds its implicit locks while statement B (same
      // session, same table) runs and releases — A's locks must survive
      val objsA = Locks.lockObjectsFor(spark, "SELECT * FROM nation")
      Locks.acquire(spark, objsA)
      Locks.withStatementLocks(spark, "SELECT count(*) FROM nation") {}
      val left = Locks.manager.getLocks(Some("default@nation"))
      assert(left.size == 1 && left.head.data.queryId == objsA.head._3.queryId,
        "sibling statement must not release another statement's locks")
    } finally {
      spark.conf.unset("hive.support.concurrency")
      Locks.LocalLockManager.clearAll()
    }
  }

  test("implicit exclusive blocks a concurrent statement until released") {
    Locks.LocalLockManager.clearAll()
    val s2 = spark.newSession()
    fastRetries(s2)
    spark.conf.set("hive.support.concurrency", "true")
    s2.conf.set("hive.support.concurrency", "true")
    try {
      Tables.registerAll(spark, sfDir)
      spark.sql("DROP TABLE IF EXISTS lock_sink2")
      spark.sql("CREATE TABLE lock_sink2 (k BIGINT) USING parquet")
      Locks.withStatementLocks(spark,
        "INSERT INTO lock_sink2 SELECT 1") {
        // while the writer "runs", a reader of the same table fails after
        // its (tiny) retry budget
        val e = intercept[IllegalStateException](
          Locks.withStatementLocks(s2, "SELECT * FROM lock_sink2") {})
        assert(e.getMessage.contains("cannot be acquired"))
      }
      // writer done: reader proceeds
      Locks.withStatementLocks(s2, "SELECT * FROM lock_sink2") {}
    } finally {
      spark.conf.unset("hive.support.concurrency")
      spark.sql("DROP TABLE IF EXISTS lock_sink2")
      Locks.LocalLockManager.clearAll()
    }
  }

  test("CLI statements run under the concurrency conf without leaking locks") {
    Locks.LocalLockManager.clearAll()
    val out = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(out, true, "UTF-8")
    spark.conf.set("hive.support.concurrency", "true")
    try {
      Tables.registerAll(spark, sfDir)
      val (cont, code) = GraftSql.process(spark,
        "SELECT count(*) AS c FROM region", ps, silent = true)
      assert(cont && code == 0)
      assert(out.toString("UTF-8").trim == "5")
      assert(Locks.manager.getLocks(None).isEmpty,
        "statement-scoped locks released by the CLI path")
    } finally {
      spark.conf.unset("hive.support.concurrency")
      Locks.LocalLockManager.clearAll()
    }
  }
}
