package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 21 (round 13): explicit lock DDL (lock1–4:
  * SHARED/EXCLUSIVE table and PARTITION locks, multiple shared holders,
  * SHOW LOCKS [t [PARTITION]] [EXTENDED]), the authorization batteries
  * (authorization_1/2/6: user/group principals, column-level
  * `select(key)` grants, SHOW GRANT filters, enforcement under
  * hive.security.authorization.enabled), database DDL (database.q: CREATE/
  * DROP/USE, SHOW DATABASES LIKE), and the innerjoin/count singles.
  */
object QFileParity21 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, dump, RefData}
  import QFileParity.Pairs.{facts, ordered}

  /** SHOW LOCKS rows with the per-run table suffix normalized away. */
  private def lockRows(s: SparkSession, sec: Int, showSql: String,
      real: String, logical: String): DataFrame = {
    val rows = HiveQl.sql(s, showSql).collect().toSeq
      .map(r => (r.getString(0).replace(real, logical), r.getString(1)))
      .sortBy(identity)
    facts(s, sec, rows)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/lock1.q: SHARED locks stack one row per holder;
    //      UNLOCK releases one at a time
    QueryDef(
      "q742_qf_lock1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"tstsrc_q742_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $t select key, value from src")
        val f0 = lockRows(s, 0, s"SHOW LOCKS $t", t, "tstsrc")
        HiveQl.sql(s, s"LOCK TABLE $t shared")
        val f1 = lockRows(s, 1, s"SHOW LOCKS $t", t, "tstsrc")
        HiveQl.sql(s, s"UNLOCK TABLE $t")
        val f2 = lockRows(s, 2, s"SHOW LOCKS $t", t, "tstsrc")
        HiveQl.sql(s, s"lock TABLE $t SHARED")
        HiveQl.sql(s, s"LOCK TABLE $t SHARED")
        val f3 = lockRows(s, 3, s"SHOW LOCKS $t", t, "tstsrc")
        // ONE unlock releases all of this session's holds on the name
        // (lock1.q.out: SHOW LOCKS is empty after the single UNLOCK)
        HiveQl.sql(s, s"UNLOCK TABLE $t")
        val f4 = lockRows(s, 4, s"SHOW LOCKS $t", t, "tstsrc")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(f0, f1, f2, f3, f4))
      },
      Some("""SELECT * FROM (VALUES
          (1, 'default@tstsrc', 'SHARED'),
          (3, 'default@tstsrc', 'SHARED'),
          (3, 'default@tstsrc', 'SHARED')) v(sec, c1, c2)
          ORDER BY sec, c1, c2""")),

    // ---- clientpositive/lock2.q: a partition lock coexists with (and
    //      lists under) its table's lock
    QueryDef(
      "q743_qf_lock2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, tp) = (s"tstsrc_q743_$sfx", s"tstsrcpart_q743_$sfx")
        fresh(s, t, tp)
        HiveQl.sql(s, s"create table $t (key string, value string)")
        HiveQl.sql(s, s"insert overwrite table $t select key, value from src")
        HiveQl.sql(s, s"create table $tp (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"insert overwrite table $tp partition (ds='2008-04-08', hr='11') " +
          "select key, value from srcpart where ds='2008-04-08' and hr='11'")
        HiveQl.sql(s, s"LOCK TABLE $t SHARED")
        HiveQl.sql(s, s"LOCK TABLE $tp SHARED")
        HiveQl.sql(s, s"LOCK TABLE $tp PARTITION(ds='2008-04-08', hr='11') EXCLUSIVE")
        val f0 = lockRows(s, 0, s"SHOW LOCKS $tp", tp, "tstsrcpart")
        val f1 = lockRows(s, 1,
          s"SHOW LOCKS $tp PARTITION(ds='2008-04-08', hr='11')", tp, "tstsrcpart")
        HiveQl.sql(s, s"UNLOCK TABLE $t")
        HiveQl.sql(s, s"UNLOCK TABLE $tp")
        val f2 = lockRows(s, 2, s"SHOW LOCKS $tp", tp, "tstsrcpart")
        HiveQl.sql(s, s"UNLOCK TABLE $tp PARTITION(ds='2008-04-08', hr='11')")
        val f3 = lockRows(s, 3, s"SHOW LOCKS $tp", tp, "tstsrcpart")
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $tp")
        ordered(Seq(f0, f1, f2, f3))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'default@tstsrcpart', 'SHARED'),
          (0, 'default@tstsrcpart@ds=2008-04-08/hr=11', 'EXCLUSIVE'),
          (1, 'default@tstsrcpart@ds=2008-04-08/hr=11', 'EXCLUSIVE'),
          (2, 'default@tstsrcpart@ds=2008-04-08/hr=11', 'EXCLUSIVE'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/lock3.q / clientpositive/lock4.q: statement locks RELEASE after
    //      each insert (incl. dynamic partitions) — SHOW LOCKS is empty
    QueryDef(
      "q744_qf_lock3",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tp = s"tstsrcpart_q744_$sfx"
        fresh(s, tp)
        HiveQl.sql(s, s"create table $tp (key string, value string) " +
          "partitioned by (ds string, hr string)")
        HiveQl.sql(s, s"""from srcpart
          insert overwrite table $tp partition (ds='2008-04-08',hr='11')
          select key, value where ds='2008-04-08' and hr='11'""")
        HiveQl.sql(s, s"""from srcpart
          insert overwrite table $tp partition (ds, hr)
          select key, value, ds, hr where ds <= '2008-04-08'""")
        HiveQl.sql(s, s"""from srcpart
          insert overwrite table $tp partition (ds ='2008-04-08', hr)
          select key, value, hr where ds = '2008-04-08'""")
        val f0 = facts(s, 0, Seq("locks_after_inserts" ->
          HiveQl.sql(s, s"SHOW LOCKS $tp").count().toString))
        val c1 = facts(s, 1, Seq("rows" ->
          HiveQl.sql(s, s"select count(1) from $tp").collect()(0).getLong(0).toString))
        HiveQl.sql(s, s"drop table $tp")
        ordered(Seq(f0, c1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'locks_after_inserts', '0'), (1, 'rows', '1000'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    QueryDef(
      "q745_qf_lock4",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"tst1_q745_$sfx"
        fresh(s, t1)
        // lock4.q = lock3.q under hive.lock.mapred.only.operation=true
        HiveQl.sql(s, "set hive.lock.mapred.only.operation=true")
        HiveQl.sql(s, s"create table $t1 (key string, value string) " +
          "partitioned by (a string, b string, c string, d string)")
        HiveQl.sql(s, s"""from srcpart
          insert overwrite table $t1 partition (a='1', b='2', c, d)
          select key, value, ds, hr where ds = '2008-04-08'""")
        val f0 = facts(s, 0, Seq("locks_after_inserts" ->
          HiveQl.sql(s, s"SHOW LOCKS $t1").count().toString))
        val parts = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(t1))
          .map(_.spec.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))
          .sorted
        val f1 = facts(s, 1, parts.map(p => s"part:$p" -> "present"))
        HiveQl.sql(s, s"drop table $t1")
        ordered(Seq(f0, f1))
      },
      Some("""SELECT * FROM (VALUES
          (0, 'locks_after_inserts', '0'),
          (1, 'part:a=1/b=2/c=2008-04-08/d=11', 'present'),
          (1, 'part:a=1/b=2/c=2008-04-08/d=12', 'present'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/authorization_1.q: user/group grants, column
    //      grants, enforcement through the reads
    QueryDef(
      "q746_qf_authorization_1",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_autho_q746_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t as select * from src")
        HiveQl.sql(s, "set hive.security.authorization.enabled=true")
        HiveQl.sql(s, "set hive.session.groups=hive_test_group1")
        def grants(sec: Int, pType: String, p: String, col: Option[String]) = {
          val on = col.fold(s"on table $t")(c => s"on table $t($c)")
          val rows = HiveQl.sql(s, s"show grant $pType $p $on").collect().toSeq
            .map(r => (r.getString(4), r.getString(3))).sorted
          facts(s, sec, rows)
        }
        def sel(sec: Int) = dump(HiveQl.sql(s,
          s"select key, value from $t order by key, value limit 5"), sec, "key", "value")
        // the .q reads ONLY the granted column under select(key) —
        // column grants are column-precise (Driver.doAuthorization)
        def selKey(sec: Int) = dump(HiveQl.sql(s,
          s"select key from $t order by key limit 5")
          .selectExpr("key", "cast(null as string) as value"), sec, "key", "value")
        HiveQl.sql(s, s"grant select on table $t to user hive_test_user")
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val g0 = grants(0, "user", "hive_test_user", None)
        val s1 = sel(1)
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, s"revoke select on table $t from user hive_test_user")
        val g2 = grants(2, "user", "hive_test_user", None)
        HiveQl.sql(s, s"grant select(key) on table $t to user hive_test_user")
        val g3 = grants(3, "user", "hive_test_user", Some("key"))
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val s4 = selKey(4)
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, s"revoke select(key) on table $t from user hive_test_user")
        HiveQl.sql(s, s"grant select on table $t to group hive_test_group1")
        val g5 = grants(5, "group", "hive_test_group1", None)
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        val s6 = sel(6)
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, s"revoke select on table $t from group hive_test_group1")
        val g7 = grants(7, "group", "hive_test_group1", None)
        HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        HiveQl.sql(s, s"drop table $t")
        ordered(Seq(g0, s1, g2, g3, s4, g5, s6, g7))
      },
      Some(s"""$SrcCte,
          top5 AS (SELECT key, value FROM src ORDER BY key, value LIMIT 5),
          top5k AS (SELECT key FROM src ORDER BY key LIMIT 5),
          legs AS (
            SELECT 0 AS sec, 'Select' AS c1, 'USER' AS c2
            UNION ALL SELECT 1, key, value FROM top5
            UNION ALL SELECT 3, 'Select(key)', 'USER'
            UNION ALL SELECT 4, key, CAST(NULL AS VARCHAR) FROM top5k
            UNION ALL SELECT 5, 'Select', 'GROUP'
            UNION ALL SELECT 6, key, value FROM top5)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/authorization_2.q / authorization_6.q: grants
    //      over PARTITIONED tables with column-level select
    QueryDef(
      "q747_qf_authorization_2",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t, tmp) = (s"autho_part_q747_$sfx", s"src_auth_tmp_q747_$sfx")
        fresh(s, t, tmp)
        HiveQl.sql(s, s"create table $t (key int, value string) partitioned by (ds string)")
        HiveQl.sql(s, s"create table $tmp as select * from src")
        HiveQl.sql(s, s"""ALTER TABLE $t SET TBLPROPERTIES ("PARTITION_LEVEL_PRIVILEGE"="TRUE")""")
        // the grant store persists across runs — start from a clean slate
        for (p <- Seq("Create", "Update", "Drop", "select", "select(key)"))
          HiveQl.sql(s, s"revoke $p on table $t from user hive_test_user")
        HiveQl.sql(s, s"revoke select on table $tmp from user hive_test_user")
        for (p <- Seq("Create", "Update", "Drop"))
          HiveQl.sql(s, s"grant $p on table $t to user hive_test_user")
        HiveQl.sql(s, s"grant select on table $tmp to user hive_test_user")
        val g0 = {
          val rows = HiveQl.sql(s, s"show grant user hive_test_user on table $t")
            .collect().toSeq.map(r => (r.getString(4), r.getString(3))).sorted
          facts(s, 0, rows)
        }
        HiveQl.sql(s, s"alter table $t add partition (ds='2010')")
        HiveQl.sql(s, s"grant select(key) on table $t to user hive_test_user")
        HiveQl.sql(s, s"alter table $t drop partition (ds='2010')")
        HiveQl.sql(s, "set hive.security.authorization.enabled=true")
        HiveQl.sql(s, "set hive.session.user=hive_test_user")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2010') " +
          s"select key, value from $tmp")
        val d1 = dump(HiveQl.sql(s,
          s"select key, ds from $t where ds='2010' order by key limit 5"),
          1, "key", "ds")
        HiveQl.sql(s, "set hive.session.user=" + sys.props.getOrElse("user.name", "root"))
        HiveQl.sql(s, "set hive.security.authorization.enabled=false")
        HiveQl.sql(s, s"drop table $t")
        HiveQl.sql(s, s"drop table $tmp")
        ordered(Seq(g0, d1))
      },
      Some(s"""$SrcCte,
          top5 AS (SELECT CAST(key AS INT) AS key FROM src ORDER BY 1 LIMIT 5),
          legs AS (
            SELECT 0 AS sec, 'Create' AS c1, 'USER' AS c2
            UNION ALL SELECT 0, 'Update', 'USER'
            UNION ALL SELECT 0, 'Drop', 'USER'
            UNION ALL SELECT 1, CAST(key AS VARCHAR), '2010' FROM top5)
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/database.q: CREATE/USE/DROP DATABASE, SHOW
    //      DATABASES LIKE, tables inside the db
    QueryDef(
      "q748_qf_database",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val db = s"test_db_q748_$sfx"
        HiveQl.sql(s, s"DROP DATABASE IF EXISTS $db CASCADE")
        HiveQl.sql(s, s"CREATE DATABASE $db COMMENT 'Hive test database'")
        HiveQl.sql(s, s"CREATE DATABASE IF NOT EXISTS $db")
        val f0 = facts(s, 0, Seq("db_exists" ->
          (HiveQl.sql(s, s"SHOW DATABASES LIKE '${db}*'").count() == 1).toString))
        HiveQl.sql(s, s"DROP DATABASE $db")
        val f1 = facts(s, 1, Seq("db_exists" ->
          (HiveQl.sql(s, s"SHOW DATABASES LIKE '${db}*'").count() > 0).toString))
        HiveQl.sql(s, s"CREATE DATABASE IF NOT EXISTS $db COMMENT 'Hive test database'")
        HiveQl.sql(s, s"USE $db")
        HiveQl.sql(s, "CREATE TABLE test_table (col1 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, "CREATE TABLE test_table_like LIKE test_table")
        val f2 = facts(s, 2, Seq("tables" ->
          // SHOW TABLES also lists session TEMP VIEWS (src & co) — count
          // the database's own tables, the .q's observable
          HiveQl.sql(s, "SHOW TABLES").where("isTemporary = false")
            .count().toString))
        HiveQl.sql(s, "LOAD DATA LOCAL INPATH " +
          s"'$RefData/test.dat' INTO TABLE test_table")
        val d3 = dump(HiveQl.sql(s,
          "SELECT * FROM test_table ORDER BY col1"), 3, "col1", "col1")
        HiveQl.sql(s, "USE default")
        HiveQl.sql(s, s"DROP DATABASE $db CASCADE")
        ordered(Seq(f0, f1, f2, d3))
      },
      Some("""SELECT * FROM (
          SELECT 0 AS sec, 'db_exists' AS c1, 'true' AS c2
          UNION ALL SELECT 1, 'db_exists', 'false'
          UNION ALL SELECT 2, 'tables', '2'
          UNION ALL SELECT 3, CAST(x AS VARCHAR), CAST(x AS VARCHAR)
          FROM unnest([1,2,3,4,5,6]) t(x)) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/innerjoin.q: INNER JOIN keyword + ordered insert
    QueryDef(
      "q749_qf_innerjoin",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val d = s"dest_j1_q749_$sfx"
        fresh(s, d)
        HiveQl.sql(s, s"CREATE TABLE $d(key INT, value STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM src src1 INNER JOIN src src2 ON (src1.key = src2.key)
            INSERT OVERWRITE TABLE $d SELECT src1.key, src2.value
            ORDER BY src1.key, src2.value""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d").orderBy("key", "value")
      },
      Some(s"""$SrcCte
          SELECT CAST(a.key AS INT) AS key, b.value AS value
          FROM src a JOIN src b ON a.key = b.key
          ORDER BY key, b.value""")),

    // ---- clientpositive/count.q: the count(DISTINCT multi-col) ladder
    //      over in4.txt (nulls skip rows per Hive/Spark semantics)
    QueryDef(
      "q750_qf_count",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"abcd_q750_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (a int, b int, c int, d int)")
        HiveQl.sql(s, "LOAD DATA LOCAL INPATH " +
          s"'$RefData/in4.txt' INTO TABLE $t")
        val d0 = dump(HiveQl.sql(s,
          s"select a, concat(b, '|', c, '|', d) as bcd from $t"), 0, "a", "bcd")
        val d1 = HiveQl.sql(s,
          s"""select a, count(distinct b) as db, count(distinct c) as dc,
              sum(d) as sd from $t group by a""")
          .select(lit(1).as("sec"),
            concat_ws("|", coalesce(col("a").cast("string"), lit("<null>")),
              col("db"), col("dc")).as("c1"),
            col("sd").cast("string").as("c2")).localCheckpoint(true)
        val d2 = HiveQl.sql(s,
          s"""select count(1) c1, count(*) c2, count(a) c3, count(b) c4,
              count(c) c5, count(d) c6, count(distinct a) c7,
              count(distinct b) c8, count(distinct c) c9, count(distinct d) c10,
              count(distinct a,b) c11, count(distinct b,c) c12,
              count(distinct c,d) c13, count(distinct a,d) c14,
              count(distinct a,c) c15, count(distinct b,d) c16,
              count(distinct a,b,c) c17, count(distinct b,c,d) c18,
              count(distinct a,c,d) c19, count(distinct a,b,d) c20,
              count(distinct a,b,c,d) c21 from $t""")
          .select(lit(2).as("sec"),
            concat_ws(",", (1 to 21).map(i => col(s"c$i")): _*).as("c1"),
            lit(null).cast("string").as("c2")).localCheckpoint(true)
        ordered(Seq(d0, d1, d2))
      },
      Some {
        val vals = """abcd(a, b, c, d) AS (VALUES
            (NULL, 35, 23, 6), (10, 1000, 50, 1), (100, 100, 10, 3),
            (12, NULL, 80, 2), (10, 100, NULL, 5), (10, 100, 45, 4),
            (12, 100, 75, 7))"""
        def cd(cols: String*) =
          s"""count(DISTINCT (${cols.mkString(", ")}))
              FILTER (WHERE ${cols.map(_ + " IS NOT NULL").mkString(" AND ")})"""
        s"""WITH $vals,
            legs AS (
              SELECT 0 AS sec, CAST(a AS VARCHAR) AS c1,
                CAST(b AS VARCHAR) || '|' || CAST(c AS VARCHAR) || '|' ||
                CAST(d AS VARCHAR) AS c2 FROM abcd
              UNION ALL
              SELECT 1, coalesce(CAST(a AS VARCHAR), '<null>') || '|' ||
                CAST(count(DISTINCT b) AS VARCHAR) || '|' ||
                CAST(count(DISTINCT c) AS VARCHAR),
                CAST(sum(d) AS VARCHAR)
              FROM abcd GROUP BY a
              UNION ALL
              SELECT 2,
                CAST(count(*) AS VARCHAR) || ',' || CAST(count(*) AS VARCHAR) || ',' ||
                CAST(count(a) AS VARCHAR) || ',' || CAST(count(b) AS VARCHAR) || ',' ||
                CAST(count(c) AS VARCHAR) || ',' || CAST(count(d) AS VARCHAR) || ',' ||
                CAST(count(DISTINCT a) AS VARCHAR) || ',' ||
                CAST(count(DISTINCT b) AS VARCHAR) || ',' ||
                CAST(count(DISTINCT c) AS VARCHAR) || ',' ||
                CAST(count(DISTINCT d) AS VARCHAR) || ',' ||
                CAST(${cd("a", "b")} AS VARCHAR) || ',' ||
                CAST(${cd("b", "c")} AS VARCHAR) || ',' ||
                CAST(${cd("c", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "c")} AS VARCHAR) || ',' ||
                CAST(${cd("b", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "b", "c")} AS VARCHAR) || ',' ||
                CAST(${cd("b", "c", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "c", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "b", "d")} AS VARCHAR) || ',' ||
                CAST(${cd("a", "b", "c", "d")} AS VARCHAR), NULL
              FROM abcd)
            SELECT * FROM legs
            ORDER BY sec, c1 NULLS FIRST, c2 NULLS FIRST"""
      })
  )
}
