package graft

import java.sql.DriverManager
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** HiveServer2 concurrency soak (VERDICT r16 #6): the deployment shape
  * BASELINE.md names is many BI connections against one warehouse —
  * ThriftServerSpec proves paging/cancel on ONE connection; this main
  * drives EIGHT parallel JDBC sessions through mixed DDL+DML (CREATE,
  * INSERT, SELECT, GRANT/REVOKE, LOCK/UNLOCK, SHOW) against a
  * Derby-backed Hive metastore (the MetastoreSmoke catalog path), and
  * asserts:
  *
  *  - no deadlock: every worker completes its full iteration budget
  *    (a watchdog fails the run rather than hanging the suite);
  *  - no lost update: the shared table's final count equals the exact
  *    number of committed inserts, and each worker's private table holds
  *    exactly its own inserts (the metadata side stores — grants, locks —
  *    are exercised every iteration, so a torn MetaPersist append or a
  *    dropped lock row surfaces as an 'already granted' / 'does not
  *    exist' error);
  *  - lock-conflict refusals keep LockSpec semantics under concurrency:
  *    a foreign EXCLUSIVE lock refuses a SHARED acquisition with the
  *    reference's "cannot be acquired" message, and releases cleanly.
  *
  * Runs as a MAIN in its own JVM (catalogImplementation is a static
  * conf). ConcurrencySoakSpec forks it and asserts on the exit code.
  * Reference frame: HiveServer.java:69 creates one Driver per client
  * connection over one shared metastore — the contention topology
  * replicated here.
  *
  * Usage: runMain graft.ConcurrencySoak [scratchDir] [iterations]
  */
object ConcurrencySoak {

  private val failure = new AtomicReference[String](null)

  private def fail(msg: String): Unit = failure.compareAndSet(null, msg)

  def main(args: Array[String]): Unit = {
    val scratch = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soak").toString)
    val iterations = if (args.length > 1) args(1).toInt else 100
    val nWorkers = 8

    System.setProperty("derby.system.home", scratch)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-concurrency-soak")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$scratch/metastore_db;create=true")
      .withExtensions(GraftExtensions.inject)
      .enableHiveSupport()
      .getOrCreate()
    Sessions.ensureRegistered(spark)
    spark.sparkContext.setLogLevel("WARN")
    // each expected LOCK refusal reaches its worker as an SQLException; the
    // Thrift operation would also log it as a full ERROR stack
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.hive.thriftserver.SparkExecuteStatementOperation",
      org.apache.logging.log4j.Level.OFF)

    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    System.setProperty("hive.server2.thrift.port", port.toString)
    org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
      .startWithContext(spark.sqlContext)
    Class.forName("org.apache.hive.jdbc.HiveDriver")

    def connect(): java.sql.Connection = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var c: java.sql.Connection = null
      while (c == null) {
        try c = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/", "", "")
        catch { case e: java.sql.SQLException =>
          if (System.nanoTime() > deadline) throw e else Thread.sleep(300)
        }
      }
      // the reference's lock-acquisition defaults retry 100 times with
      // 60 s sleeps (ZooKeeperHiveLockManager posture) — a REFUSAL under
      // contention would take 100 minutes. Soak sessions use the LockSpec
      // test policy: 2 attempts, no sleep, so a conflict refuses in ms.
      val st = c.createStatement()
      st.execute("SET hive.lock.numretries=2")
      st.execute("SET hive.lock.sleep.between.retries=0")
      st.close()
      c
    }

    // shared table. UNLOCKED concurrent INSERTs into one table directory
    // are corrupt BY CONSTRUCTION on this engine (and were unsafe in the
    // reference too): every insert path is a datasource write whose
    // FileOutputCommitter stages under the shared `_temporary/0`, so one
    // job's commit-cleanup deletes another's in-flight attempt dir —
    // observed in this soak's first run as "Mkdirs failed to create
    // ..._temporary/0/_temporary/attempt_..." and a missing .crc at
    // commitJob. That is exactly why the reference gates concurrent
    // writers behind the lock manager (Driver.acquireReadWriteLocks takes
    // EXCLUSIVE on insert targets under hive.support.concurrency): the
    // soak therefore serializes shared-table inserts through an EXCLUSIVE
    // explicit lock, which is the deployment contract a 100 TB warehouse
    // with many writer jobs runs under. The lock is taken on a companion
    // table: an explicit lock on the insert target itself refuses the
    // INSERT (insert_into1/2.q).
    HiveQl.sql(spark,
      "CREATE TABLE soak_shared (w INT, i INT) USING parquet")
    HiveQl.sql(spark, "CREATE TABLE soak_shared_lock (k INT) USING parquet")
    HiveQl.sql(spark, "CREATE TABLE soak_conflict (k INT) USING parquet")

    // ---- lock-conflict semantics under two LIVE connections ------------
    locally {
      val a = connect(); val b = connect()
      try {
        val stA = a.createStatement(); val stB = b.createStatement()
        stA.execute("LOCK TABLE soak_conflict EXCLUSIVE")
        val refused =
          try { stB.execute("LOCK TABLE soak_conflict SHARED"); false }
          catch { case e: java.sql.SQLException =>
            if (!e.getMessage.contains("cannot be acquired"))
              fail(s"wrong refusal message: ${e.getMessage}")
            true
          }
        if (!refused) fail("foreign EXCLUSIVE lock did not refuse SHARED")
        stA.execute("UNLOCK TABLE soak_conflict")
        stB.execute("LOCK TABLE soak_conflict SHARED") // now acquirable
        stB.execute("UNLOCK TABLE soak_conflict")
      } finally { a.close(); b.close() }
    }

    // ---- 8-worker mixed DDL+DML soak ------------------------------------
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(nWorkers)
    val inserted = new java.util.concurrent.atomic.AtomicInteger(0)
    // connections open and close SEQUENTIALLY, from this thread (embedded
    // Derby's boot race: session handshakes and closes that overlap each
    // race the Hive SessionState's metastore-client init or teardown,
    // XBM0J "directory already exists" / pm=null — a BI pool ramps its
    // connections one at a time too); all 8 stay LIVE through the soak,
    // which is the concurrency actually under test
    val conns = (0 until nWorkers).map(_ => connect())
    val threads = (0 until nWorkers).map { w =>
      val t = new Thread(() => {
        try {
          val conn = conns(w)
          val st = conn.createStatement()
          st.execute(s"CREATE TABLE soak_w$w (i INT, v DOUBLE) USING parquet")
          st.execute(s"CREATE ROLE soak_role_$w")
          start.await()
          var myInserts = 0
          (1 to iterations).takeWhile(_ => failure.get == null).foreach { i =>
            (i % 5) match {
              case 0 | 1 =>
                // private table: this session is its only writer
                st.execute(s"INSERT INTO soak_w$w VALUES ($i, $i.5)")
                myInserts += 1
                // shared table: EXCLUSIVE-lock-serialized insert (the
                // reference's concurrent-writer contract; see the table's
                // creation comment). Acquisition refusals under
                // contention are EXPECTED LockSpec semantics — retry.
                var locked = false
                var attempts = 0
                while (!locked && attempts < 600 && failure.get == null) {
                  try {
                    st.execute("LOCK TABLE soak_shared_lock EXCLUSIVE")
                    locked = true
                  } catch {
                    case e: java.sql.SQLException
                        if e.getMessage.contains("cannot be acquired") =>
                      attempts += 1; Thread.sleep(25)
                  }
                }
                if (!locked) fail(s"worker $w: EXCLUSIVE never acquired " +
                  s"after $attempts attempts (starvation)")
                else {
                  try st.execute(s"INSERT INTO soak_shared VALUES ($w, $i)")
                  finally st.execute("UNLOCK TABLE soak_shared_lock")
                  inserted.incrementAndGet()
                }
              case 2 =>
                // read-your-writes inside one session (lost-update probe)
                val rs = st.executeQuery(
                  s"SELECT count(*) AS n FROM soak_w$w")
                rs.next()
                if (rs.getLong(1) != myInserts)
                  fail(s"worker $w lost update: ${rs.getLong(1)} != $myInserts")
              case 3 =>
                // grant/revoke pair per iteration: a torn metadata append
                // or a cross-worker wipe surfaces as 'already granted'
                st.execute(s"GRANT select ON TABLE soak_w$w TO USER user_$w")
                val g = st.executeQuery(
                  s"SHOW GRANT USER user_$w ON TABLE soak_w$w")
                if (!g.next()) fail(s"worker $w: grant invisible after GRANT")
                st.execute(s"REVOKE select ON TABLE soak_w$w FROM USER user_$w")
              case 4 =>
                st.execute(s"LOCK TABLE soak_w$w SHARED")
                val l = st.executeQuery("SHOW LOCKS")
                if (!l.next()) fail(s"worker $w: lock invisible after LOCK")
                st.execute(s"UNLOCK TABLE soak_w$w")
            }
          }
          // final per-worker integrity
          val rs = st.executeQuery(s"SELECT count(*) AS n FROM soak_w$w")
          rs.next()
          if (rs.getLong(1) != myInserts)
            fail(s"worker $w final count ${rs.getLong(1)} != $myInserts")
        } catch { case e: Throwable =>
          fail(s"worker $w died: ${e.getClass.getSimpleName} ${e.getMessage}")
        } finally done.countDown()
      })
      t.setDaemon(true); t.start(); t
    }
    start.countDown()
    // watchdog: a deadlock FAILS the run instead of hanging the suite
    if (!done.await(15, TimeUnit.MINUTES))
      fail(s"soak did not finish in 15 min — " +
        s"live workers: ${threads.count(_.isAlive)} (deadlock?)")
    conns.zipWithIndex.foreach { case (c, w) =>
      try c.close()
      catch { case e: Throwable =>
        fail(s"worker $w close: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }

    // ---- global lost-update check over the shared table ----------------
    if (failure.get == null) {
      val n = spark.sql("SELECT count(*) FROM soak_shared").head.getLong(0)
      if (n != inserted.get)
        fail(s"shared table lost updates: $n rows != ${inserted.get} commits")
      val locks = HiveQl.sql(spark, "SHOW LOCKS").count()
      if (locks != 0) fail(s"$locks locks leaked after the soak")
    }

    val rc = failure.get match {
      case null =>
        println(s"[soak] OK: $nWorkers workers x $iterations iterations, " +
          s"${inserted.get} committed inserts, 0 lost, locks clean")
        0
      case msg =>
        System.err.println(s"[soak] FAIL: $msg")
        1
    }
    spark.stop()
    // hard exit: HiveThriftServer2's handler/binary-CLI threads are
    // NON-daemon and only stop via an async listener on context end — a
    // lost race leaves the JVM alive forever and the forking spec blocked
    // on its stdout (observed once under memory pressure)
    System.out.flush(); System.err.flush()
    sys.exit(rc)
  }
}
