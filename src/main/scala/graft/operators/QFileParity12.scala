package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 12 (round 13): per-partition heterogeneous
  * file formats — the `partition_wise_fileformat*.q` family (7 files) +
  * `alter_partition_format_loc.q`. The reference picks the SerDe per input
  * partition (MapOperator.java:62); the graft surface is `ALTER TABLE
  * [PARTITION] SET FILEFORMAT` converting the table to the dispatching
  * [[graft.sources.HiveHeteroSource]] format (per-file content dispatch).
  *
  * Format facts: each QueryDef that exercises mixed layouts emits
  * `fmt:<dt>:<format>` rows derived from the actual ON-DISK bytes
  * (HiveHeteroSource.formatOf over each partition's files) — the oracle
  * pins the expected container per partition, so a write landing in the
  * wrong format fails the value gate, not just a plan check.
  *
  * The `.q`s' bare `create table` means STORED AS TEXTFILE in Hive 0.8
  * (Hive.g tableFileFormat default); the graft session default provider is
  * parquet, so these defs spell the implicit TEXTFILE explicitly. The
  * parquet-partitions-before-conversion path is covered by
  * HeteroFormatSpec instead.
  */
object QFileParity12 extends QueryModule {

  import QFileParity.{fixtures, fresh, Src1Cte}

  /** One `fmt:<dt>:<container>` STRING per partition, from the bytes. */
  private def formatFacts(s: SparkSession, table: String): Seq[String] = {
    val cat = s.sessionState.catalog
    val ti = s.sessionState.sqlParser.parseTableIdentifier(table)
    cat.listPartitions(ti).flatMap { p =>
      val loc = new org.apache.hadoop.fs.Path(p.location)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = if (fs.exists(loc))
        fs.listStatus(loc).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
      files.headOption.map { f =>
        val dt = p.spec.values.mkString("/")
        s"fmt:$dt:${graft.sources.HiveHeteroSource.formatOf(f.getPath)}"
      }
    }
  }

  private def stageKeys(df: DataFrame, stage: Int): DataFrame =
    df.select(lit(stage).as("stage"), col("key")).localCheckpoint(true)

  private def factRows(s: SparkSession, stage: Int, facts: Seq[String]): DataFrame = {
    import s.implicits._
    facts.toDF("key").select(lit(stage).as("stage"), col("key"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/partition_wise_fileformat.q: text, RCFile and
    //      SequenceFile partitions coexisting in ONE table; per-partition
    //      and whole-table scans, then the dt range scan across all three
    QueryDef(
      "q617_qf_partition_wise_fileformat",
      (s, dir) => {
        val t = s"ptp1_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=100) select * from src1")
        val s0 = stageKeys(HiveQl.sql(s, s"select key from $t where dt=100"), 0)
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        val s1 = stageKeys(HiveQl.sql(s, s"select key from $t where dt=101"), 1)
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=102) select * from src1")
        val s2 = stageKeys(HiveQl.sql(s, s"select key from $t where dt=102"), 2)
        val s3 = stageKeys(HiveQl.sql(s, s"select key from $t"), 3)
        val s4 = stageKeys(
          HiveQl.sql(s, s"select key from $t where dt >=100 and dt <= 102"), 4)
        val s5 = factRows(s, 5, formatFacts(s, t))
        Seq(s0, s1, s2, s3, s4, s5).reduce(_ union _).orderBy("stage", "key")
      },
      Some(s"""$Src1Cte,
          keys AS (SELECT key FROM src1),
          staged AS (
            SELECT s.stage, k.key FROM keys k
            CROSS JOIN (VALUES (0),(1),(2)) s(stage)
            UNION ALL
            SELECT s.stage, k.key FROM keys k
            CROSS JOIN (VALUES (3),(4)) s(stage)
            CROSS JOIN (VALUES (100),(101),(102)) p(dt)
            UNION ALL
            SELECT 5, f.key FROM (VALUES ('fmt:100:textfile'),
              ('fmt:101:rcfile'), ('fmt:102:sequencefile')) f(key))
          SELECT stage, key FROM staged ORDER BY stage, key""")),

    // ---- clientpositive/partition_wise_fileformat2.q: SELECT * (all
    //      columns + the partition column) across the mixed-format range
    QueryDef(
      "q618_qf_partition_wise_fileformat2",
      (s, dir) => {
        val t = s"ptp2_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=100) select * from src1")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=102) select * from src1")
        HiveQl.sql(s, s"select * from $t where dt >=100 and dt <= 102")
          .orderBy("dt", "key", "value")
      },
      Some(s"""$Src1Cte
          SELECT src1.key, src1.value, p.dt FROM src1
          CROSS JOIN (VALUES ('100'),('101'),('102')) p(dt)
          ORDER BY dt, key, value""")),

    // ---- clientpositive/partition_wise_fileformat3.q: INSERT OVERWRITE of
    //      an EXISTING partition adopts the table's CURRENT format (the
    //      golden's dt=101 flips RCFile → SequenceFile on re-overwrite)
    QueryDef(
      "q619_qf_partition_wise_fileformat3",
      (s, dir) => {
        val t = s"ptp3_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        val f0 = factRows(s, 0, formatFacts(s, t)) // dt=101 is RCFile here
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=102) select * from src1")
        val s1 = stageKeys(HiveQl.sql(s, s"select key from $t where dt=102"), 1)
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        val s2 = stageKeys(HiveQl.sql(s, s"select key from $t where dt=101"), 2)
        val f3 = factRows(s, 3, formatFacts(s, t)) // BOTH SequenceFile now
        Seq(f0, s1, s2, f3).reduce(_ union _).orderBy("stage", "key")
      },
      Some(s"""$Src1Cte,
          keys AS (SELECT key FROM src1),
          staged AS (
            SELECT 0 AS stage, 'fmt:101:rcfile' AS key
            UNION ALL SELECT s.stage, k.key FROM keys k
            CROSS JOIN (VALUES (1),(2)) s(stage)
            UNION ALL SELECT 3, f.key FROM (VALUES ('fmt:101:sequencefile'),
              ('fmt:102:sequencefile')) f(key))
          SELECT stage, key FROM staged ORDER BY stage, key""")),

    // ---- clientpositive/partition_wise_fileformat4.q: partition-level
    //      SET FILEFORMAT on an existing partition (metadata no-op against
    //      matching bytes) + ADD/DROP of an empty partition around it
    QueryDef(
      "q620_qf_partition_wise_fileformat4",
      (s, dir) => {
        val t = s"ptp4_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt='1') select * from src1")
        HiveQl.sql(s, s"alter table $t partition (dt='1') set fileformat sequencefile")
        HiveQl.sql(s, s"alter table $t add partition (dt='2')")
        val parts2 = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(t)).map(_.spec("dt")).sorted
        HiveQl.sql(s, s"alter table $t drop partition (dt='2')")
        val parts3 = s.sessionState.catalog.listPartitions(
          s.sessionState.sqlParser.parseTableIdentifier(t)).map(_.spec("dt")).sorted
        val f0 = factRows(s, 0, formatFacts(s, t))
        val f1 = factRows(s, 1, parts2.map("part:" + _))
        val f2 = factRows(s, 2, parts3.map("part:" + _))
        val s3 = stageKeys(HiveQl.sql(s, s"select key from $t where dt='1'"), 3)
        Seq(f0, f1, f2, s3).reduce(_ union _).orderBy("stage", "key")
      },
      Some(s"""$Src1Cte,
          staged AS (
            SELECT 0 AS stage, 'fmt:1:sequencefile' AS key
            UNION ALL SELECT 1, f.key FROM (VALUES ('part:1'),('part:2')) f(key)
            UNION ALL SELECT 2, 'part:1'
            UNION ALL SELECT 3, key FROM src1)
          SELECT stage, key FROM staged ORDER BY stage, key""")),

    // ---- clientpositive/partition_wise_fileformat5.q: aggregation
    //      grouped on the partition column across mixed formats (the .q's
    //      CombineHiveInputFormat setting is Spark's native file-combining
    //      posture — maxPartitionBytes packing — so the SET is implicit)
    QueryDef(
      "q621_qf_partition_wise_fileformat5",
      (s, dir) => {
        val t = s"ptp5_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=102) select * from src1")
        val s0 = HiveQl.sql(s,
          s"select dt, count(1) as cnt from $t where dt is not null group by dt")
          .select(lit(0).as("stage"), col("dt"), col("cnt")).localCheckpoint(true)
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=103) select * from src1")
        val s1 = HiveQl.sql(s,
          s"select dt, count(1) as cnt from $t where dt is not null group by dt")
          .select(lit(1).as("stage"), col("dt"), col("cnt")).localCheckpoint(true)
        s0.union(s1).orderBy("stage", "dt")
      },
      Some(s"""$Src1Cte,
          n AS (SELECT count(*) AS cnt FROM src1)
          SELECT s.stage, s.dt, n.cnt FROM (VALUES
            (0,'101'),(0,'102'),(1,'101'),(1,'102'),(1,'103')) s(stage, dt), n
          ORDER BY stage, dt""")),

    // ---- clientpositive/partition_wise_fileformat6.q: UNION ALL whose two
    //      legs read DIFFERENT-format partitions of the same table
    QueryDef(
      "q622_qf_partition_wise_fileformat6",
      (s, dir) => {
        val t = s"ptp6_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        HiveQl.sql(s, s"alter table $t set fileformat Sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=102) select * from src1")
        HiveQl.sql(s,
          s"""select (select count(1) from
                (select key, value from $t where dt=101 and key < 100
                 union all
                 select key, value from $t where dt=101 and key < 20)s) as c1,
              (select count(1) from
                (select key, value from $t where dt=101 and key < 100
                 union all
                 select key, value from $t where dt=102 and key < 20)s) as c2""")
      },
      Some(s"""$Src1Cte,
          k AS (SELECT TRY_CAST(key AS DOUBLE) AS k FROM src1)
          SELECT
            (SELECT count(*) FROM k WHERE k < 100) +
              (SELECT count(*) FROM k WHERE k < 20) AS c1,
            (SELECT count(*) FROM k WHERE k < 100) +
              (SELECT count(*) FROM k WHERE k < 20) AS c2""")),

    // ---- clientpositive/partition_wise_fileformat7.q: self-join of an
    //      RCFile partition on key, with and without the key range
    QueryDef(
      "q623_qf_partition_wise_fileformat7",
      (s, dir) => {
        val t = s"ptp7_${fixtures(s, dir)}"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t(key string, value string) " +
          "partitioned by (dt string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        HiveQl.sql(s, s"insert overwrite table $t partition(dt=101) select * from src1")
        HiveQl.sql(s,
          s"""select (select count(1) from $t a join $t b on a.key = b.key
                where a.dt = '101' and b.dt = '101') as c1,
              (select count(1) from $t a join $t b on a.key = b.key
                where a.dt = '101' and b.dt = '101' and a.key < 100) as c2""")
      },
      Some(s"""$Src1Cte
          SELECT
            (SELECT count(*) FROM src1 a JOIN src1 b ON a.key = b.key) AS c1,
            (SELECT count(*) FROM src1 a JOIN src1 b ON a.key = b.key
              WHERE TRY_CAST(a.key AS DOUBLE) < 100) AS c2""")),

    // ---- clientpositive/alter_partition_format_loc.q: SET FILEFORMAT and
    //      SET LOCATION at table AND partition level are pure metadata —
    //      facts read back what the catalog recorded (the .q's DESC
    //      EXTENDED lines), no file is touched at the fake locations
    QueryDef(
      "q624_qf_alter_partition_format_loc",
      (s, dir) => {
        val t = s"apfl_${fixtures(s, dir)}"
        fresh(s, t)
        val cat = s.sessionState.catalog
        def ti = s.sessionState.sqlParser.parseTableIdentifier(t)
        // unpartitioned leg
        HiveQl.sql(s, s"create table $t (key int, value string) stored as textfile")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        val m1 = cat.getTableMetadata(ti)
        val f0 = Seq(
          s"tbl-provider:${m1.provider.getOrElse("")}",
          s"tbl-write:${m1.storage.properties.getOrElse(
            graft.sources.HiveHeteroSource.WriteFormatKey, "")}")
        HiveQl.sql(s, s"drop table $t")
        // partitioned leg
        HiveQl.sql(s, s"create table $t (key int, value string) " +
          "partitioned by (ds string) stored as textfile")
        HiveQl.sql(s, s"alter table $t add partition(ds='2010')")
        HiveQl.sql(s, s"alter table $t partition(ds='2010') set fileformat rcfile")
        val p1 = cat.getPartition(ti, Map("ds" -> "2010"))
        val f1 = Seq(
          s"part-format:${p1.storage.properties.getOrElse("graft.format", "")}")
        HiveQl.sql(s,
          s"""alter table $t partition(ds='2010') set location "file:/test/test/ds=2010"""")
        val p2 = cat.getPartition(ti, Map("ds" -> "2010"))
        val f2 = Seq(s"part-loc:${p2.location.toString}")
        HiveQl.sql(s, s"alter table $t set fileformat rcfile")
        val m2 = cat.getTableMetadata(ti)
        val f3 = Seq(s"tbl-write2:${m2.storage.properties.getOrElse(
          graft.sources.HiveHeteroSource.WriteFormatKey, "")}")
        factRows(s, 0, f0 ++ f1 ++ f2 ++ f3)
          .select(col("key").as("fact")).orderBy("fact")
      },
      Some("""SELECT fact FROM (VALUES
          ('tbl-provider:graft.sources.HiveHeteroSource'),
          ('tbl-write:rcfile'),
          ('part-format:rcfile'),
          ('part-loc:file:/test/test/ds=2010'),
          ('tbl-write2:rcfile')) v(fact) ORDER BY fact"""))
  )
}
