package graft

/** GRANT/REVOKE authorization (closes the §7.5 authz drop): role and
  * grant DDL, SHOW GRANT/SHOW ROLE GRANT output, and Driver
  * .doAuthorization-shaped enforcement (inputs need Select, insert
  * targets need Update) with the reference's denial message.
  */
class AuthzSpec extends SparkSpec {

  private def asUser[T](u: String)(body: => T): T = {
    spark.conf.set("hive.session.user", u)
    try body finally spark.conf.unset("hive.session.user")
  }

  private def enforced[T](body: => T): T = {
    spark.conf.set("hive.security.authorization.enabled", "true")
    try body finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("role lifecycle and role-based grants") {
    Authz.reset()
    HiveQl.sql(spark, "CREATE ROLE analysts")
    val dup = intercept[Exception](HiveQl.sql(spark, "CREATE ROLE analysts"))
    assert(dup.getMessage.contains("already exists"))
    HiveQl.sql(spark, "GRANT ROLE analysts TO USER alice")
    val rg = HiveQl.sql(spark, "SHOW ROLE GRANT USER alice")
    assert(rg.columns.toSeq == Seq("role", "grant_time"))
    assert(rg.collect().map(_.getString(0)).toSeq == Seq("analysts"))
    // membership goes when the role is dropped
    HiveQl.sql(spark, "DROP ROLE analysts")
    assert(HiveQl.sql(spark, "SHOW ROLE GRANT USER alice").count() == 0)
    val gone = intercept[Exception](
      HiveQl.sql(spark, "GRANT ROLE analysts TO USER bob"))
    assert(gone.getMessage.contains("does not exist"))
  }

  test("GRANT/REVOKE/SHOW GRANT on tables, reference privilege names") {
    Authz.reset()
    HiveQl.sql(spark,
      "GRANT SELECT, UPDATE ON TABLE nation TO USER alice WITH GRANT OPTION")
    val g = HiveQl.sql(spark, "SHOW GRANT USER alice ON TABLE nation")
    assert(g.columns.toSeq == Seq("database", "table", "principal_name",
      "principal_type", "privilege", "grant_time", "grantor"))
    val rows = g.collect()
    // canonical display names, Privilege.java:136-155
    assert(rows.map(_.getString(4)).toSeq == Seq("Select", "Update"))
    assert(rows.forall(_.getString(1) == "nation"))
    assert(rows.forall(_.getString(3) == "USER"))
    HiveQl.sql(spark, "REVOKE UPDATE ON TABLE nation FROM USER alice")
    assert(HiveQl.sql(spark, "SHOW GRANT USER alice ON TABLE nation")
      .collect().map(_.getString(4)).toSeq == Seq("Select"))
    // unknown privilege name is loud (getPrivTypeByName UNKNOWN)
    val bad = intercept[Exception](HiveQl.sql(spark,
      "GRANT FROB ON TABLE nation TO USER alice"))
    assert(bad.getMessage.contains("Undefined privilege"))
    Authz.reset()
  }

  test("enforcement: Select on inputs, Update on insert targets") {
    Authz.reset()
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS authz_sink")
    spark.sql("CREATE TABLE authz_sink (k BIGINT) USING parquet")
    spark.sql("DROP TABLE IF EXISTS authz_sink2")
    spark.sql("CREATE TABLE authz_sink2 (k BIGINT) USING parquet")
    enforced {
      asUser("mallory") {
        val e = intercept[SecurityException](
          HiveQl.sql(spark, "SELECT count(*) FROM nation"))
        assert(e.getMessage ==
          "Authorization failed:No privilege 'Select' found for inputs " +
            "{ database:default, table:nation}. " +
            "Use show grant to get more details.",
          "DefaultHiveAuthorizationProvider.java:455-482 message shape")
      }
      // direct user grant opens the gate
      HiveQl.sql(spark, "GRANT SELECT ON TABLE nation TO USER mallory")
      asUser("mallory") {
        assert(HiveQl.sql(spark,
          "SELECT count(*) AS c FROM nation").collect().head.getLong(0) == 25)
        // reading is not writing
        val e = intercept[SecurityException](HiveQl.sql(spark,
          "INSERT INTO authz_sink SELECT n_nationkey FROM nation"))
        assert(e.getMessage.contains("No privilege 'Update' found for outputs"))
      }
      HiveQl.sql(spark, "GRANT UPDATE ON TABLE authz_sink TO USER mallory")
      asUser("mallory") {
        HiveQl.sql(spark, "INSERT INTO authz_sink SELECT n_nationkey FROM nation")
        assert(spark.table("authz_sink").count() == 25)
        // a multi-insert's every target needs Update, not just the first
        val e = intercept[SecurityException](HiveQl.sql(spark,
          """FROM nation
             INSERT INTO TABLE authz_sink SELECT n_nationkey
             INSERT INTO TABLE authz_sink2 SELECT n_regionkey"""))
        assert(e.getMessage.contains(
          "No privilege 'Update' found for outputs { database:default, table:authz_sink2}"))
        assert(spark.table("authz_sink").count() == 25, "nothing ran")
        // a CTE name hides a table only inside its own WITH: the outer
        // query's and the CTE body's `region` are the table
        Seq("SELECT count(*) FROM region WHERE r_regionkey IN " +
            "(WITH region AS (SELECT 1 AS r_regionkey) SELECT r_regionkey FROM region)",
          "WITH region AS (SELECT * FROM region) SELECT count(*) FROM region").foreach { q =>
          val e = intercept[SecurityException](HiveQl.sql(spark, q))
          assert(e.getMessage.contains(
            "No privilege 'Select' found for inputs { database:default, table:region}"), q)
        }
      }
    }
    spark.sql("DROP TABLE IF EXISTS authz_sink")
    spark.sql("DROP TABLE IF EXISTS authz_sink2")
    Authz.reset()
  }

  test("role grants and database-level grants authorize; ALL covers everything") {
    Authz.reset()
    Tables.registerAll(spark, sfDir)
    enforced {
      // via role
      HiveQl.sql(spark, "CREATE ROLE readers")
      HiveQl.sql(spark, "GRANT SELECT ON TABLE region TO ROLE readers")
      asUser("carol") {
        intercept[SecurityException](HiveQl.sql(spark, "SELECT * FROM region"))
      }
      HiveQl.sql(spark, "GRANT ROLE readers TO USER carol")
      asUser("carol") {
        assert(HiveQl.sql(spark, "SELECT * FROM region").count() == 5)
        // the role grant is table-scoped: another table still denies
        intercept[SecurityException](HiveQl.sql(spark, "SELECT * FROM nation"))
      }
      // database-level ALL covers every table in it
      HiveQl.sql(spark, "GRANT ALL ON DATABASE default TO USER dave")
      asUser("dave") {
        assert(HiveQl.sql(spark, "SELECT * FROM nation").count() == 25)
        assert(HiveQl.sql(spark, "SELECT * FROM region").count() == 5)
      }
    }
    Authz.reset()
  }

  test("column grants check PER-TABLE needed columns, not a global name set") {
    // Driver.doAuthorization checks each TableScan's own needed columns:
    // b.value read from table B must not count against table A's
    // Select(key) grant just because A also has a column named value
    Authz.reset()
    spark.sql("DROP TABLE IF EXISTS authz_a")
    spark.sql("DROP TABLE IF EXISTS authz_b")
    spark.sql("CREATE TABLE authz_a (key INT, value STRING) USING parquet")
    spark.sql("CREATE TABLE authz_b (key INT, value STRING) USING parquet")
    spark.sql("INSERT INTO authz_a VALUES (1, 'a1')")
    spark.sql("INSERT INTO authz_b VALUES (1, 'b1')")
    HiveQl.sql(spark, "GRANT SELECT(key) ON TABLE authz_a TO USER carol")
    HiveQl.sql(spark, "GRANT SELECT ON TABLE authz_b TO USER carol")
    enforced {
      asUser("carol") {
        // qualified b.value binds to B only — A's needed set is {key}
        assert(HiveQl.sql(spark,
          "SELECT a.key, b.value FROM authz_a a JOIN authz_b b ON a.key = b.key")
          .count() == 1)
        // reading a.value really does exceed the column grant
        intercept[SecurityException](HiveQl.sql(spark,
          "SELECT a.value, b.value FROM authz_a a JOIN authz_b b ON a.key = b.key"))
        // an UNQUALIFIED ambiguous-name read stays conservative: it could
        // come from A, so A's grant must cover it
        intercept[SecurityException](HiveQl.sql(spark,
          "SELECT a.key FROM authz_a a JOIN authz_b b ON a.key = b.key WHERE length(value) > 0"))
      }
    }
    spark.sql("DROP TABLE IF EXISTS authz_a")
    spark.sql("DROP TABLE IF EXISTS authz_b")
    Authz.reset()
  }

  test("enforcement is off by default and never blocks the grant DDL itself") {
    Authz.reset()
    Tables.registerAll(spark, sfDir)
    // no conf: anything goes (reference default:
    // hive.security.authorization.enabled=false)
    asUser("nobody") {
      assert(HiveQl.sql(spark, "SELECT count(*) FROM region").count() == 1)
    }
    enforced {
      // SHOW GRANT and GRANT run without table privileges
      asUser("nobody") {
        assert(HiveQl.sql(spark, "SHOW GRANT USER nobody").count() == 0)
      }
    }
    Authz.reset()
  }

  test("DROP TABLE takes the table's grants with it") {
    // TBL_PRIVS rows die with the table: a re-created table of the same
    // name starts with no grants, so re-granting one is not 'already
    // granted' and SHOW GRANT lists only the new grant
    Authz.reset()
    HiveQl.sql(spark, "DROP TABLE IF EXISTS authz_regrant")
    HiveQl.sql(spark, "CREATE TABLE authz_regrant (k INT)")
    HiveQl.sql(spark, "GRANT SELECT, UPDATE ON TABLE authz_regrant TO USER alice")
    HiveQl.sql(spark, "DROP TABLE authz_regrant")
    HiveQl.sql(spark, "CREATE TABLE authz_regrant (k INT)")
    HiveQl.sql(spark, "GRANT SELECT ON TABLE authz_regrant TO USER alice")
    assert(HiveQl.sql(spark, "SHOW GRANT USER alice ON TABLE authz_regrant")
      .collect().map(_.getString(4)).toSeq == Seq("Select"))
    // grant rows whose table the catalog no longer holds (an application
    // restarted over the same warehouse with an in-memory catalog) go with
    // a DROP TABLE IF EXISTS of the name
    spark.sessionState.catalog.dropTable(
      org.apache.spark.sql.catalyst.TableIdentifier("authz_regrant"),
      ignoreIfNotExists = false, purge = false)
    HiveQl.sql(spark, "DROP TABLE IF EXISTS authz_regrant")
    HiveQl.sql(spark, "CREATE TABLE authz_regrant (k INT)")
    HiveQl.sql(spark, "GRANT SELECT ON TABLE authz_regrant TO USER alice")
    assert(HiveQl.sql(spark, "SHOW GRANT USER alice ON TABLE authz_regrant")
      .collect().map(_.getString(4)).toSeq == Seq("Select"))
    HiveQl.sql(spark, "DROP TABLE authz_regrant")
    Authz.reset()
  }

  test("raw spark.sql is authorized like HiveQl.sql (one statement path)") {
    Authz.reset()
    Tables.registerAll(spark, sfDir)
    enforced {
      asUser("mallory") {
        val e = intercept[SecurityException](
          spark.sql("SELECT count(*) FROM nation"))
        assert(e.getMessage.startsWith(
          "Authorization failed:No privilege 'Select' found for inputs"))
      }
    }
    Authz.reset()
  }
}
