package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 26 (round 14): the exim long tail noted
  * uncovered in QFileParity19 — exim_04_evolved_parts (schema/serde/
  * format/bucket evolution surviving the export→import round trip) and
  * the partition-LOCATION quartet exim_15/16/17/20 (partition imports
  * bound to their own directories: ImportSemanticAnalyzer's
  * AddPartitionDesc-with-location path; removing a partition's directory
  * empties just that partition).
  */
object QFileParity26 extends QueryModule {

  import QFileParity.{fixtures, fresh, rmrf, exportDir, loadEmp, dumpEmp, inImporterDb, empLegSql}
  import QFileParity.Pairs.{facts, ordered}

  private def empDdl(t: String, external: Boolean = false,
      location: Option[String] = None): String =
    s"""create ${if (external) "external " else ""}table $t
        ( emp_id int comment "employee id")
        comment "employee table"
        partitioned by (emp_country string comment "two char iso code",
                        emp_state string comment "free text")
        stored as textfile
        ${location.map(l => s"location '$l'").getOrElse("")}
        tblproperties("creator"="krishna")"""

  private val DeptOracle =
    (1 to 6).map(i => s"($i)").mkString("dept(dep_id) AS (VALUES ", ",", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/exim_04_evolved_parts.q: the table evolves after
    //      its first partition (add column, new serde, new file format,
    //      re-clustered buckets, second partition) — the import carries
    //      the EVOLVED descriptor
    QueryDef(
      "q798_qf_exim_04_evolved_parts",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q798_$sfx"
        val exp = exportDir("q798", sfx)
        fresh(s, t); rmrf(s, exp)
        HiveQl.sql(s,
          s"""create table $t (emp_id int comment 'employee id', emp_name string,
              emp_dob string comment 'employee date of birth', emp_sex string comment 'M/F')
              comment 'employee table'
              partitioned by (emp_country string comment '2-char code',
                              emp_state string comment '2-char code')
              clustered by (emp_sex) sorted by (emp_id ASC) into 10 buckets
              stored as rcfile""")
        HiveQl.sql(s, s"alter table $t add partition (emp_country='in', emp_state='tn')")
        HiveQl.sql(s, s"alter table $t add columns (emp_dept int)")
        HiveQl.sql(s, s"""alter table $t set serde
          "org.apache.hadoop.hive.serde2.lazybinary.LazyBinarySerDe"""")
        HiveQl.sql(s, s"""alter table $t set fileformat
          inputformat "org.apache.hadoop.hive.ql.io.BucketizedHiveInputFormat"
          outputformat "org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat"""")
        HiveQl.sql(s,
          s"alter table $t clustered by (emp_sex, emp_dept) sorted by (emp_id desc) into 5 buckets")
        HiveQl.sql(s, s"alter table $t add partition (emp_country='in', emp_state='ka')")
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q798", sfx) {
          HiveQl.sql(s, s"import from '$exp'")
          val cols = HiveQl.sql(s, s"describe $t").collect()
            .map(_.getString(0)).filterNot(_.startsWith("#")).distinct
          val f0 = facts(s, 0, Seq(
            "evolved_col_present" -> cols.contains("emp_dept").toString,
            "col_count" -> cols.length.toString,
            "rows" -> HiveQl.sql(s, s"select count(1) from $t")
              .collect()(0).getLong(0).toString,
            "partitioned" -> HiveQl.sql(s, s"show table extended like `$t`")
              .collect().map(_.getString(0))
              .find(_.startsWith("partitioned:"))
              .map(_.stripPrefix("partitioned:")).getOrElse("<none>")))
          HiveQl.sql(s, s"drop table $t"); rmrf(s, exp)
          ordered(Seq(f0))
        }
      },
      // 7 columns: 4 original + emp_dept + 2 partition cols
      Some("""SELECT * FROM (VALUES
          (0, 'col_count', '7'), (0, 'evolved_col_present', 'true'),
          (0, 'partitioned', 'true'), (0, 'rows', '0'))
          v(sec, c1, c2) ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_15_external_part.q: a partition imported
    //      INTO an existing external table joins the partitions already
    //      loaded there; the slice is copied under the table's own store
    QueryDef(
      "q799_qf_exim_15_external_part",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q799_$sfx"
        val exp = exportDir("q799", sfx)
        val store = s"/tmp/graft_exim/store_q799_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q799", sfx) {
          HiveQl.sql(s, empDdl(t, external = true, location = Some(store)))
          loadEmp(s, t, "in", "tn"); loadEmp(s, t, "in", "ka")
          HiveQl.sql(s, s"""import external table $t partition
            (emp_country="us", emp_state="tn") from '$exp'""")
          val d0 = dumpEmp(s, 0, t)
          rmrf(s, exp); s.catalog.refreshTable(t)
          val f1 = facts(s, 1, Seq("rows_after_rm_export" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          rmrf(s, store); s.catalog.refreshTable(t)
          val f2 = facts(s, 2, Seq("rows_after_rm_store" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t")
          ordered(Seq(d0, f1, f2))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0,
          Seq("in" -> "tn", "in" -> "ka", "us" -> "tn"))}
          UNION ALL SELECT 1, 'rows_after_rm_export', '18'
          UNION ALL SELECT 2, 'rows_after_rm_store', '0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_16_part_external.q: partition import with a
    //      LOCATION override — the partition lives OUTSIDE the table's own
    //      (empty) store; removing it empties the table
    QueryDef(
      "q800_qf_exim_16_part_external",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q800_$sfx"
        val exp = exportDir("q800", sfx)
        val store = s"/tmp/graft_exim/store_q800_$sfx"
        val store2 = s"/tmp/graft_exim/store2_q800_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store); rmrf(s, store2)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q800", sfx) {
          HiveQl.sql(s, empDdl(t, external = true, location = Some(store2)))
          HiveQl.sql(s, s"""import table $t partition
            (emp_country="us", emp_state="tn") from '$exp' location '$store'""")
          val ext = HiveQl.sql(s,
            s"""show table extended like `$t` partition (emp_country="us", emp_state="tn")""")
            .collect().map(_.getString(0))
          val f0 = facts(s, 0, Seq(
            "partitioned" -> ext.find(_.startsWith("partitioned:"))
              .map(_.stripPrefix("partitioned:")).getOrElse("<none>"),
            "part_has_files" -> ext.find(_.startsWith("totalNumberFiles:"))
              .exists(_.stripPrefix("totalNumberFiles:").toLong > 0).toString,
            "part_loc_in_store" -> ext.find(_.startsWith("location:"))
              .exists(_.contains(store.stripPrefix("file:"))).toString))
          rmrf(s, exp); s.catalog.refreshTable(t)
          val d1 = dumpEmp(s, 1, t)
          rmrf(s, store); s.catalog.refreshTable(t)
          val f2 = facts(s, 2, Seq("rows_after_rm_store" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t"); rmrf(s, store2)
          ordered(Seq(f0, d1, f2))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (
          SELECT 0 AS sec, 'part_has_files' AS c1, 'true' AS c2
          UNION ALL SELECT 0, 'part_loc_in_store', 'true'
          UNION ALL SELECT 0, 'partitioned', 'true'
          UNION ALL ${empLegSql(1, Seq("us" -> "tn"))}
          UNION ALL SELECT 2, 'rows_after_rm_store', '0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_17_part_managed.q: the same LOCATION-bound
    //      partition import into a MANAGED table, plus an ADD PARTITION at
    //      a second (empty) location
    QueryDef(
      "q801_qf_exim_17_part_managed",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q801_$sfx"
        val exp = exportDir("q801", sfx)
        val store = s"/tmp/graft_exim/store_q801_$sfx"
        val store2 = s"/tmp/graft_exim/store2_q801_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store); rmrf(s, store2)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q801", sfx) {
          HiveQl.sql(s, empDdl(t))
          HiveQl.sql(s, s"""import table $t partition
            (emp_country="us", emp_state="tn") from '$exp' location '$store'""")
          HiveQl.sql(s, s"""alter table $t add partition
            (emp_country="us", emp_state="ap") location '$store2'""")
          val parts = HiveQl.sql(s, s"show partitions $t").collect()
            .map(_.getString(0)).sorted
          val f0 = facts(s, 0, Seq(
            "n_partitions" -> parts.length.toString,
            "has_ap" -> parts.exists(_.contains("emp_state=ap")).toString))
          rmrf(s, exp); s.catalog.refreshTable(t)
          val d1 = dumpEmp(s, 1, t)
          rmrf(s, store); s.catalog.refreshTable(t)
          val f2 = facts(s, 2, Seq("rows_after_rm_store" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t")
          ordered(Seq(f0, d1, f2))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (
          SELECT 0 AS sec, 'has_ap' AS c1, 'true' AS c2
          UNION ALL SELECT 0, 'n_partitions', '2'
          UNION ALL ${empLegSql(1, Seq("us" -> "tn"))}
          UNION ALL SELECT 2, 'rows_after_rm_store', '0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),

    // ---- clientpositive/exim_20_part_managed_location.q: partition-spec
    //      import CREATES the table, its storage at the named location
    QueryDef(
      "q802_qf_exim_20_part_managed_location",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"exim_employee_q802_$sfx"
        val exp = exportDir("q802", sfx)
        val store = s"/tmp/graft_exim/store_q802_$sfx"
        fresh(s, t); rmrf(s, exp); rmrf(s, store)
        HiveQl.sql(s, empDdl(t))
        for ((co, st) <- Seq("in" -> "tn", "in" -> "ka", "us" -> "tn", "us" -> "ka"))
          loadEmp(s, t, co, st)
        HiveQl.sql(s, s"export table $t to '$exp'")
        HiveQl.sql(s, s"drop table $t")
        inImporterDb(s, "q802", sfx) {
          HiveQl.sql(s, s"""import table $t partition
            (emp_country="us", emp_state="tn") from '$exp' location '$store'""")
          val d0 = dumpEmp(s, 0, t)
          val f1 = facts(s, 1, Seq("loc_in_store" ->
            s.sessionState.catalog.getTableMetadata(
              s.sessionState.sqlParser.parseTableIdentifier(t))
              .location.toString.contains(store.stripPrefix("file:")).toString))
          rmrf(s, exp); s.catalog.refreshTable(t)
          val f2 = facts(s, 2, Seq("rows_after_rm_export" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          rmrf(s, store); s.catalog.refreshTable(t)
          val f3 = facts(s, 3, Seq("rows_after_rm_store" ->
            HiveQl.sql(s, s"select count(1) from $t").collect()(0).getLong(0).toString))
          HiveQl.sql(s, s"drop table $t")
          ordered(Seq(d0, f1, f2, f3))
        }
      },
      Some(s"""WITH $DeptOracle, legs AS (${empLegSql(0, Seq("us" -> "tn"))}
          UNION ALL SELECT 1, 'loc_in_store', 'true'
          UNION ALL SELECT 2, 'rows_after_rm_export', '6'
          UNION ALL SELECT 3, 'rows_after_rm_store', '0')
          SELECT * FROM legs ORDER BY sec, c1, c2""")),
  )
}
