package graft

import java.sql.DriverManager

/** Thrift HiveServer / JDBC surface (ref service/.../HiveServer.java:69 —
  * the reference's multi-user entry point; jdbc/.../HiveConnection.java).
  * SURVEY §3.2 maps it to Spark's own Thrift JDBC server: this smoke spec
  * starts HiveThriftServer2 against the graft session and serves queries
  * over a real HiveDriver JDBC connection — the exact wire a BI-tool port
  * of a reference deployment would use.
  */
class ThriftServerSpec extends SparkSpec {

  test("Spark Thrift JDBC server serves graft queries over hive-jdbc") {
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    // keep derby's metastore scratch out of the repo cwd
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft-derby").toString)
    System.setProperty("hive.server2.thrift.port", port.toString)
    // each JDBC connection opens its OWN Spark session (the multi-user
    // posture; singleSession is a static conf), so expose data the
    // cross-session way: a global temp view over the graft-loaded table
    // DataFrame-API global view: captures the analyzed plan (a SQL-text
    // view would re-resolve `region` inside the JDBC session, where the
    // main session's temp views don't exist)
    Tables.load(spark, sfDir, "region").createOrReplaceGlobalTempView("thrift_region")
    val server = org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
      .startWithContext(spark.sqlContext)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // server binds asynchronously — retry the connect briefly (generous
      // deadline: the suite runs this under full machine load)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var conn: java.sql.Connection = null
      while (conn == null) {
        try conn = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/", "", "")
        catch { case e: java.sql.SQLException =>
          if (System.nanoTime() > deadline) throw e else Thread.sleep(500)
        }
      }
      try {
        val st = conn.createStatement()
        val rs = st.executeQuery(
          "SELECT r_regionkey, r_name FROM global_temp.thrift_region ORDER BY r_regionkey")
        var n = 0
        while (rs.next()) {
          assert(rs.getLong(1) == n)
          assert(rs.getString(2).nonEmpty)
          n += 1
        }
        assert(n == 5, s"region must serve 5 rows over JDBC, got $n")
        // an aggregate through the same wire (a real plan, not just a scan)
        val rs2 = st.executeQuery(
          "SELECT sum(r_regionkey) AS s FROM global_temp.thrift_region")
        assert(rs2.next() && rs2.getLong(1) == 10)
        // HiveQL DIALECT over the wire (HiveDialectParser is injected at
        // the session-parser layer, so JDBC clients get it too): a MAPJOIN
        // hint and a deterministic TABLESAMPLE ... ON, both Hive-0.8 forms
        // Spark's stock parser rejects or misreads
        val rs3 = st.executeQuery(
          """SELECT /*+ MAPJOIN(r) */ count(*) AS n
             FROM global_temp.thrift_region r
             WHERE r_regionkey IN (
               SELECT r_regionkey FROM global_temp.thrift_region
                 TABLESAMPLE (BUCKET 1 OUT OF 1 ON r_regionkey))""")
        assert(rs3.next() && rs3.getLong(1) == 5,
          "Hive dialect forms must parse over JDBC")

        // ---- Second LIVE connection (the BI wire is multi-client by
        // definition — ref HiveServer.java serves one session per client):
        // with both connections open, prove per-connection isolation
        // (temp views, hivevar substitution state) and shared-catalog
        // visibility (persistent tables), plus a dialect form on each.
        val conn2 = DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/", "", "")
        try {
          val stA = st
          val stB = conn2.createStatement()
          // temp views are session-scoped: A's view must not resolve in B
          stA.execute("CREATE TEMPORARY VIEW thrift_iso_tv AS SELECT 42 AS v")
          val rsA = stA.executeQuery("SELECT v FROM thrift_iso_tv")
          assert(rsA.next() && rsA.getInt(1) == 42)
          val bSeesIt =
            try { stB.executeQuery("SELECT v FROM thrift_iso_tv"); true }
            catch { case _: java.sql.SQLException => false }
          assert(!bSeesIt, "temp view must be invisible to the sibling session")
          // hivevar substitution state is per session conf
          stA.execute("SET hivevar:tag=alpha")
          stB.execute("SET hivevar:tag=beta")
          val vA = stA.executeQuery("SELECT '${tag}' AS t")
          val vB = stB.executeQuery("SELECT '${tag}' AS t")
          assert(vA.next() && vA.getString(1) == "alpha")
          assert(vB.next() && vB.getString(1) == "beta",
            "each connection substitutes from its OWN session conf")
          // shared catalog: a table created through A is queryable from B.
          // (pre-delete any stale warehouse dir from a crashed prior run —
          // DROP IF EXISTS in a fresh JVM does not remove a stranded
          // location and CREATE would throw LOCATION_ALREADY_EXISTS)
          stA.execute("DROP TABLE IF EXISTS thrift_shared_t")
          val stale = new java.io.File(
            spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
            "thrift_shared_t")
          if (stale.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(stale)
          stA.execute(
            """CREATE TABLE thrift_shared_t USING parquet AS
               SELECT r_regionkey, r_name FROM global_temp.thrift_region""")
          try {
            val sB = stB.executeQuery(
              "SELECT count(*) AS n FROM thrift_shared_t")
            assert(sB.next() && sB.getLong(1) == 5,
              "catalog tables are shared across live sessions")
            // a Hive-dialect statement on EACH live connection
            val dA = stA.executeQuery(
              """SELECT count(*) AS n FROM thrift_shared_t
                 TABLESAMPLE (BUCKET 1 OUT OF 1 ON r_regionkey)""")
            assert(dA.next() && dA.getLong(1) == 5)
            val dB = stB.executeQuery(
              """SELECT /*+ MAPJOIN(b) */ count(*) AS n
                 FROM thrift_shared_t a JOIN thrift_shared_t b
                   ON a.r_regionkey = b.r_regionkey""")
            assert(dB.next() && dB.getLong(1) == 5)
          } finally stA.execute("DROP TABLE IF EXISTS thrift_shared_t")
        } finally conn2.close()

        // ---- r10 statement surface over the wire: the row-returning
        // SHOW forms (HiveShowStatement through the injected parser) and
        // lock DDL work from a JDBC client, not just the library API —
        // the reference's layering (HiveServer funnels through the same
        // Driver the CLI uses).
        locally {
          Locks.LocalLockManager.clearAll()
          val ddlSt = conn.createStatement()
          try {
            ddlSt.execute("LOCK TABLE thrift_t SHARED")
            val locks = ddlSt.executeQuery("SHOW LOCKS")
            assert(locks.next(), "SHOW LOCKS over JDBC returns the lock row")
            assert(locks.getString(1).endsWith("@thrift_t") &&
              locks.getString(2) == "SHARED")
            assert(!locks.next())
            ddlSt.execute("UNLOCK TABLE thrift_t")
            val none = ddlSt.executeQuery("SHOW LOCKS")
            assert(!none.next(), "UNLOCK over JDBC released it")
          } finally Locks.LocalLockManager.clearAll()
        }

        // ---- Incremental fetch paging (ref HiveServer.java:69 fetchN —
        // the paging contract BI tools rely on): a small fetch size forces
        // the driver through repeated FetchResults round trips; every row
        // must arrive exactly once, in order, across page boundaries.
        val pgSt = conn.createStatement()
        pgSt.setFetchSize(7) // 100 rows / 7 per page = 15 paged round trips
        val pg = pgSt.executeQuery(
          "SELECT id FROM range(100) ORDER BY id")
        var expect = 0L
        while (pg.next()) {
          assert(pg.getLong(1) == expect, s"paged fetch lost order at $expect")
          expect += 1
        }
        assert(expect == 100, s"paged fetch must deliver all rows, got $expect")

        // ---- Statement CANCEL, then REUSE the same connection: cancel an
        // in-flight long scan from another thread (CancelOperation on the
        // wire), the blocked execute must fail rather than run to
        // completion, and the session must stay healthy for the next query.
        val cnSt = conn.createStatement()
        // keep cancelling until the blocked execute actually returns: a
        // single cancel() can land BEFORE the operation is in flight on a
        // loaded machine (it then no-ops and the scan runs for minutes —
        // the r17 driver-suite flake signature). The loop makes the race
        // unlosable; done is set by the main thread either way.
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val canceller = new Thread(() => {
          while (!done.get) {
            Thread.sleep(1000)
            if (!done.get) { try cnSt.cancel() catch { case _: Exception => () } }
          }
        })
        canceller.setDaemon(true)
        canceller.start()
        val t0 = System.nanoTime()
        val cancelled =
          try {
            // ~1e12 rows to count: minutes uncancelled, so a fast return
            // can only mean the cancel took effect
            cnSt.executeQuery("SELECT count(*) FROM range(1000000000000)")
            false
          } catch { case _: java.sql.SQLException => true }
          finally done.set(true)
        canceller.join()
        assert(cancelled, "cancelled statement must raise, not run to completion")
        assert(System.nanoTime() - t0 < 120L * 1000 * 1000 * 1000,
          "cancel must interrupt the scan promptly")
        val reuse = cnSt.executeQuery("SELECT 7 AS x")
        assert(reuse.next() && reuse.getInt(1) == 7,
          "the connection must serve new statements after a cancel")

        // JDBC statements take HiveQl.sql's path: an INSERT refreshes the
        // target's transient_lastDdlTime, and authorization denies a user
        // with no grant
        st.execute("DROP TABLE IF EXISTS thrift_ddl_t")
        st.execute("CREATE TABLE thrift_ddl_t (k INT) USING parquet")
        try {
          def ddlTime = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier("thrift_ddl_t"))
            .properties.get("transient_lastDdlTime")
          assert(ddlTime.isEmpty, "CREATE alone sets no transient_lastDdlTime")
          st.execute("INSERT INTO thrift_ddl_t SELECT 1")
          assert(ddlTime.nonEmpty, "a JDBC INSERT refreshes transient_lastDdlTime")
          Authz.reset()
          st.execute("SET hive.security.authorization.enabled=true")
          st.execute("SET hive.session.user=thrift_nobody")
          val e = intercept[java.sql.SQLException](
            st.executeQuery("SELECT count(*) FROM thrift_ddl_t"))
          assert(e.getMessage.contains("No privilege 'Select' found for inputs"),
            e.getMessage)
          st.execute("SET hive.security.authorization.enabled=false")
        } finally {
          Authz.reset()
          st.execute("DROP TABLE IF EXISTS thrift_ddl_t")
        }
      } finally conn.close()
    } finally server.stop()
  }
}
