package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 35 (round 15): the small-singles tail —
  * inoutdriver, the LOAD authorization-success trio, partition_serde_format,
  * drop_udf, reduce_deduplicate_exclude_gby, cp_mj_rc,
  * disable_file_format_check, inputddl8, udf_compare_java_string,
  * create_udaf / create_genericudaf / create_genericudf, load_fs.
  */
object QFileParity35 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData, leg, cnt}
  import QFileParity.Lines.{facts, ordered}

  private def provider(s: SparkSession, t: String): String =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .provider.getOrElse("")

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/inoutdriver.q: the INPUTDRIVER/OUTPUTDRIVER tail
    //      of tableFileFormat (Hive.g:1179) parses and is dropped — the
    //      drivers appear nowhere in the table's metadata (golden's
    //      Detailed Table Information has no driver fields)
    QueryDef(
      "q891_qf_inoutdriver",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"inoutdriver_q891_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (a int) stored as inputformat " +
          "'org.apache.hadoop.hive.ql.io.RCFileInputFormat' outputformat " +
          "'org.apache.hadoop.hive.ql.io.RCFileOutputFormat' " +
          "inputdriver 'RCFileInDriver' outputdriver 'RCFileOutDriver'")
        val desc = HiveQl.sql(s, s"desc extended $t").collect()
        val out = ordered(Seq(facts(s, 0, Seq(
          "col0" -> (desc(0).getString(0) + ":" + desc(0).getString(1)),
          "format_is_rcfile" ->
            provider(s, t).endsWith("HiveRCSource").toString,
          "no_driver_metadata" -> (!s.sessionState.catalog
            .getTableMetadata(TableIdentifier(t)).properties.keys
            .exists(_.toLowerCase.contains("driver"))).toString))))
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'col0|a:int'), (0, 'format_is_rcfile|true'),
        (0, 'no_driver_metadata|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/load_nonpart_authsuccess.q: Update grant
    //      authorizes LOAD under enforcement (LoadSemanticAnalyzer
    //      WriteEntity output → Driver.doAuthorization Update check);
    //      engine-level negative leg proves the check is live
    QueryDef(
      "q892_qf_load_nonpart_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"hive_test_src_q892_$sfx"
        val t2 = s"hive_test_deny_q892_$sfx"
        fresh(s, t, t2)
        try {
          HiveQl.sql(s, s"create table $t (col1 string) stored as textfile")
          HiveQl.sql(s, s"create table $t2 (col1 string) stored as textfile")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          HiveQl.sql(s, s"grant Update on table $t to user hive_test_user")
          HiveQl.sql(s,
            s"load data local inpath '$RefData/test.dat' overwrite into table $t")
          val denied = try {
            HiveQl.sql(s,
              s"load data local inpath '$RefData/test.dat' overwrite into table $t2")
            false
          } catch { case e: SecurityException => e.getMessage.contains("Update") }
          // the .q ends at the load; counting is our verification step and
          // runs outside enforcement (the test user holds only Update)
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          ordered(Seq(facts(s, 0, Seq(
            "loaded_rows" -> cnt(s, s"select count(*) from $t").toString,
            "ungranted_load_denied" -> denied.toString))))
        } finally {
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          HiveQl.sql(s, "set hive.session.user=" +
            sys.props.getOrElse("user.name", "root"))
          Seq(t, t2).foreach(x => HiveQl.sql(s, s"drop table if exists $x"))
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'loaded_rows|6'), (0, 'ungranted_load_denied|true'))
        v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/load_part_authsuccess.q: same check on a
    //      partition-targeted LOAD into a NEW partition
    QueryDef(
      "q893_qf_load_part_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"hive_test_src_q893_$sfx"
        fresh(s, t)
        try {
          HiveQl.sql(s, s"create table $t (col1 string) " +
            "partitioned by (pcol1 string) stored as textfile")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          HiveQl.sql(s, s"grant Update on table $t to user hive_test_user")
          HiveQl.sql(s, s"load data local inpath '$RefData/test.dat' " +
            s"overwrite into table $t partition (pcol1 = 'test_part')")
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          ordered(Seq(facts(s, 0, Seq(
            "part_rows" ->
              cnt(s, s"select count(*) from $t where pcol1='test_part'").toString,
            "partitions" ->
              HiveQl.sql(s, s"show partitions $t").count().toString))))
        } finally {
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          HiveQl.sql(s, "set hive.session.user=" +
            sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, s"drop table if exists $t")
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'part_rows|6'), (0, 'partitions|1')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/load_exist_part_authsuccess.q: the partition
    //      pre-exists (ALTER ADD PARTITION before enforcement)
    QueryDef(
      "q894_qf_load_exist_part_authsuccess",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"hive_test_src_q894_$sfx"
        fresh(s, t)
        try {
          HiveQl.sql(s, s"create table $t (col1 string) " +
            "partitioned by (pcol1 string) stored as textfile")
          HiveQl.sql(s, s"alter table $t add partition (pcol1 = 'test_part')")
          HiveQl.sql(s, "set hive.security.authorization.enabled=true")
          HiveQl.sql(s, "set hive.session.user=hive_test_user")
          HiveQl.sql(s, s"grant Update on table $t to user hive_test_user")
          HiveQl.sql(s, s"load data local inpath '$RefData/test.dat' " +
            s"overwrite into table $t partition (pcol1 = 'test_part')")
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          ordered(Seq(facts(s, 0, Seq(
            "part_rows" ->
              cnt(s, s"select count(*) from $t where pcol1='test_part'").toString,
            "partitions" ->
              HiveQl.sql(s, s"show partitions $t").count().toString))))
        } finally {
          HiveQl.sql(s, "set hive.security.authorization.enabled=false")
          HiveQl.sql(s, "set hive.session.user=" +
            sys.props.getOrElse("user.name", "root"))
          HiveQl.sql(s, s"drop table if exists $t")
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'part_rows|6'), (0, 'partitions|1')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/partition_serde_format.q: ALTER SET SERDE with
    //      SERDEPROPERTIES on a partitioned SEQUENCEFILE table — existing
    //      partitions keep reading (the serde swap is metadata; the
    //      reference's partition still carries its own descriptor)
    QueryDef(
      "q895_qf_partition_serde_format",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"src_part_serde_q895_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key int, value string) " +
          "partitioned by (ds string) stored as sequencefile")
        HiveQl.sql(s, s"insert overwrite table $t partition (ds='2011') select * from src")
        HiveQl.sql(s, s"alter table $t set serde " +
          "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
          "with SERDEPROPERTIES ('serialization.format'='\\t')")
        val out = HiveQl.sql(s,
          s"select key, value from $t where ds='2011' order by key, value limit 20")
        val rows = out.collect()
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        rows.map(r => (r.getInt(0), r.getString(1))).toSeq.toDF("key", "value")
      },
      Some(SrcCte +
        """ SELECT CAST(key AS INT) AS key, value FROM src
            ORDER BY key, value LIMIT 20""")),

    // ---- clientpositive/drop_udf.q: EXPLAIN DROP TEMPORARY FUNCTION is
    //      plannable, and the drop takes effect
    QueryDef(
      "q896_qf_drop_udf",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_translate AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestTranslate'")
        val before = HiveQl.sql(s, "SELECT test_translate('abc', 'a', 'b') t")
          .collect()(0).getString(0)
        val explainRows = HiveQl.sql(s,
          "EXPLAIN DROP TEMPORARY FUNCTION test_translate").count()
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION test_translate")
        val gone = try {
          HiveQl.sql(s, "SELECT test_translate('abc', 'a', 'b') t").collect()
          false
        } catch { case _: Exception => true }
        ordered(Seq(facts(s, 0, Seq(
          "callable_before" -> before,
          "explain_nonempty" -> (explainRows > 0).toString,
          "gone_after_drop" -> gone.toString))))
      },
      Some("""SELECT * FROM (VALUES
        (0, 'callable_before|bbc'), (0, 'explain_nonempty|true'),
        (0, 'gone_after_drop|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/reduce_deduplicate_exclude_gby.q: CLUSTER BY
    //      subquery feeding a same-key GROUP BY with map-side agg off.
    //      The reference EXCLUDES this shape from ReduceSinkDeDuplication
    //      (two MR stages); Spark's EnsureRequirements reuses the cluster
    //      exchange — one shuffle total, which the fact pins
    QueryDef(
      "q897_qf_reduce_dedup_exclude_gby",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"t1_q897_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"create table $t (key_int1 int, key_int2 int, " +
          "key_string1 string, key_string2 string)")
        HiveQl.sql(s, "set hive.map.aggr=false")
        val df = HiveQl.sql(s, s"select Q1.key_int1, sum(Q1.key_int1) s " +
          s"from (select * from $t cluster by key_int1) Q1 group by Q1.key_int1")
        val plan = finalPlan(df)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        HiveQl.sql(s, "set hive.map.aggr=true")
        val out = ordered(Seq(facts(s, 0, Seq(
          "rows" -> df.count().toString,
          "single_shuffle" -> (exchanges <= 1).toString))))
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'rows|0'), (0, 'single_shuffle|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/cp_mj_rc.q: column pruning THROUGH a mapjoin
    //      over RCFile storage — the narrow side's scan reads only the
    //      join key, and the hint yields a broadcast join
    QueryDef(
      "q898_qf_cp_mj_rc",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val six = s"src_six_columns_q898_$sfx"
        val two = s"src_two_columns_q898_$sfx"
        fresh(s, six, two)
        HiveQl.sql(s, s"create table $six (k1 string, v1 string, k2 string, " +
          "v2 string, k3 string, v3 string) stored as rcfile")
        HiveQl.sql(s, s"insert overwrite table $six " +
          "select value, value, key, value, value, value from src")
        HiveQl.sql(s, s"create table $two (k1 string, v1 string) stored as rcfile")
        HiveQl.sql(s, s"insert overwrite table $two select key, value from src")
        val d1 = HiveQl.sql(s, s"SELECT /*+ MAPJOIN($six) */ $six.*, $two.k1 " +
          s"from $six join $two on ($six.k3=$two.k1)")
        val d2 = HiveQl.sql(s, s"SELECT /*+ MAPJOIN($two) */ $two.*, $six.k3 " +
          s"from $six join $two on ($six.k3=$two.k1)")
        val (p1, p2) = (finalPlan(d1), finalPlan(d2))
        val out = ordered(Seq(facts(s, 0, Seq(
          "rows1" -> d1.count().toString,
          "rows2" -> d2.count().toString,
          "bhj1" -> p1.contains("BroadcastHashJoin").toString,
          "bhj2" -> p2.contains("BroadcastHashJoin").toString,
          // column pruning reached the RC scan: query 2 reads ONLY k3
          // from the six-column table
          "six_scan_pruned" -> p2.contains("struct<k3:string>").toString))))
        Seq(six, two).foreach(x => HiveQl.sql(s, s"drop table $x"))
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'rows1|0'), (0, 'rows2|0'), (0, 'bhj1|true'), (0, 'bhj2|true'),
        (0, 'six_scan_pruned|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/disable_file_format_check.q: with the check off,
    //      mismatched LOADs land verbatim; with the default check ON the
    //      same loads refuse (LoadSemanticAnalyzer → checkInputFormat)
    QueryDef(
      "q899_qf_disable_file_format_check",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tTxt = s"kv_fileformat_check_txt_q899_$sfx"
        val tSeq = s"kv_fileformat_check_seq_q899_$sfx"
        fresh(s, tTxt, tSeq)
        try {
          HiveQl.sql(s, "set hive.fileformat.check = false")
          HiveQl.sql(s, s"create table $tTxt (key string, value string) stored as textfile")
          HiveQl.sql(s, s"load data local inpath '$RefData/kv1.seq' overwrite into table $tTxt")
          HiveQl.sql(s, s"create table $tSeq (key string, value string) stored as sequencefile")
          HiveQl.sql(s, s"load data local inpath '$RefData/kv1.txt' overwrite into table $tSeq")
          def nFiles(t: String): Int = {
            val loc = new org.apache.hadoop.fs.Path(
              s.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location)
            loc.getFileSystem(s.sparkContext.hadoopConfiguration)
              .listStatus(loc).count(!_.getPath.getName.startsWith("_"))
          }
          HiveQl.sql(s, "set hive.fileformat.check = true")
          val seqIntoTxtDenied = try {
            HiveQl.sql(s, s"load data local inpath '$RefData/kv1.seq' into table $tTxt")
            false
          } catch { case e: Exception => e.getMessage.contains("file format") }
          val txtIntoSeqDenied = try {
            HiveQl.sql(s, s"load data local inpath '$RefData/kv1.txt' into table $tSeq")
            false
          } catch { case e: Exception => e.getMessage.contains("file format") }
          ordered(Seq(facts(s, 0, Seq(
            "txt_table_files" -> nFiles(tTxt).toString,
            "seq_table_files" -> nFiles(tSeq).toString,
            "checked_seq_into_txt_denied" -> seqIntoTxtDenied.toString,
            "checked_txt_into_seq_denied" -> txtIntoSeqDenied.toString))))
        } finally {
          HiveQl.sql(s, "set hive.fileformat.check = true")
          Seq(tTxt, tSeq).foreach(x => HiveQl.sql(s, s"drop table if exists $x"))
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 'txt_table_files|1'), (0, 'seq_table_files|1'),
        (0, 'checked_seq_into_txt_denied|true'),
        (0, 'checked_txt_into_seq_denied|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/inputddl8.q: ThriftDeserializer CREATE derives
    //      its columns from serialization.class (the reference's Complex
    //      test record), keeps the bucket/sort/partition DDL, and stays
    //      DESCRIBEable. The golden spells lintstring's element as the
    //      raw thrift class name; the engine spells the same shape as the
    //      expanded struct
    QueryDef(
      "q900_qf_inputddl8",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"inputddl8_q900_$sfx"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t COMMENT 'This is a thrift based table' " +
          "PARTITIONED BY(ds STRING, country STRING) " +
          "CLUSTERED BY(aint) SORTED BY(lint) INTO 32 BUCKETS " +
          "ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.thrift.ThriftDeserializer' " +
          "WITH SERDEPROPERTIES ('serialization.class' = " +
          "'org.apache.hadoop.hive.serde2.thrift.test.Complex', " +
          "'serialization.format' = 'com.facebook.thrift.protocol.TBinaryProtocol') " +
          "STORED AS SEQUENCEFILE")
        val desc = HiveQl.sql(s, s"DESCRIBE EXTENDED $t").collect()
          .takeWhile(r => r.getString(0).nonEmpty && !r.getString(0).startsWith("#"))
          .map(r => r.getString(0) + ":" + r.getString(1))
        val meta = s.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        val buckets = meta.bucketSpec.map(b =>
          (b.numBuckets, b.bucketColumnNames.mkString(","), b.sortColumnNames.mkString(",")))
          .orElse(for {
            n <- meta.properties.get("graft.hive.bucket.n")
            c <- meta.properties.get("graft.hive.bucket.cols")
          } yield (n.toInt, c, meta.properties.getOrElse("graft.hive.bucket.sort", "")))
        val out = ordered(Seq(facts(s, 0, Seq(
          "cols" -> desc.mkString(";"),
          "buckets" -> buckets.map(b => s"${b._1}/${b._2}/${b._3}").getOrElse("none"),
          "comment" -> meta.comment.getOrElse(""),
          "format_is_seq" -> provider(s, t).endsWith("HiveSeqSource").toString))))
        HiveQl.sql(s, s"drop table $t")
        out
      },
      Some("""SELECT * FROM (VALUES
        (0, 'cols|aint:int;astring:string;lint:array<int>;lstring:array<string>;lintstring:array<struct<myint:int,mystring:string,underscore_int:int>>;mstringstring:map<string,string>;ds:string;country:string'),
        (0, 'buckets|32/aint/lint'),
        (0, 'comment|This is a thrift based table'),
        (0, 'format_is_seq|true')) v(sec, c1) ORDER BY sec, c1""")),

    // ---- clientpositive/udf_compare_java_string.q: a test UDF that
    //      returns a lazy JAVA String still compares equal against the
    //      serde's Text-backed strings (object-inspector coercion)
    QueryDef(
      "q901_qf_udf_compare_java_string",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_udf_get_java_string AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestGetJavaString'")
        val d1 = HiveQl.sql(s,
          "select * from src where value = test_udf_get_java_string(\"val_66\")")
        val d2 = HiveQl.sql(s, "select * from (select * from src where " +
          "value = 'val_66' or value = 'val_8') t " +
          "where value <> test_udf_get_java_string(\"val_8\")")
        // the same two shapes over values PRESENT in this src derivation
        // (val_66/val_8 are not quadratic residues here), so the equality
        // actually selects rows
        val d3 = HiveQl.sql(s,
          "select * from src where value = test_udf_get_java_string(\"val_4\")")
        val d4 = HiveQl.sql(s, "select * from (select * from src where " +
          "value = 'val_4' or value = 'val_9') t " +
          "where value <> test_udf_get_java_string(\"val_9\")")
        val out = ordered(Seq(leg(0, d1), leg(1, d2), leg(2, d3), leg(3, d4)))
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION test_udf_get_java_string")
        out
      },
      Some(SrcCte + """
        SELECT sec, c1 FROM (
          SELECT 0 AS sec, key || '|' || value AS c1 FROM src WHERE value = 'val_66'
          UNION ALL
          SELECT 1 AS sec, key || '|' || value AS c1 FROM
            (SELECT * FROM src WHERE value = 'val_66' OR value = 'val_8') t
          WHERE value <> 'val_8'
          UNION ALL
          SELECT 2 AS sec, key || '|' || value AS c1 FROM src WHERE value = 'val_4'
          UNION ALL
          SELECT 3 AS sec, key || '|' || value AS c1 FROM
            (SELECT * FROM src WHERE value = 'val_4' OR value = 'val_9') t
          WHERE value <> 'val_9') u ORDER BY sec, c1""")),

    // ---- clientpositive/create_udaf.q: CREATE TEMPORARY FUNCTION against
    //      the reference's UDAFTestMax (simple-UDAF bridge) used as an
    //      aggregate through INSERT OVERWRITE
    QueryDef(
      "q902_qf_create_udaf",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"dest1_q902_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_max AS " +
          "'org.apache.hadoop.hive.ql.udf.UDAFTestMax'")
        HiveQl.sql(s, s"CREATE TABLE $t (col INT)")
        HiveQl.sql(s,
          s"FROM src INSERT OVERWRITE TABLE $t SELECT test_max(length(src.value))")
        val rows = HiveQl.sql(s, s"SELECT $t.* FROM $t").collect()
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION test_max")
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        rows.map(_.getInt(0)).toSeq.toDF("col")
      },
      Some(SrcCte + " SELECT CAST(max(length(value)) AS INT) AS col FROM src")),

    // ---- clientpositive/create_genericudaf.q: GenericUDAFAverage under a
    //      temporary alias — constant and string-numeric inputs
    QueryDef(
      "q903_qf_create_genericudaf",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_avg AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDAFAverage'")
        val df = HiveQl.sql(s,
          "SELECT test_avg(1) a1, test_avg(substr(value,5)) a2 FROM src")
        val r = df.collect()(0)
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION test_avg")
        import s.implicits._
        Seq((r.getDouble(0), r.getDouble(1))).toDF("a1", "a2")
      },
      Some(SrcCte + """ SELECT AVG(1.0) AS a1,
        AVG(CAST(substr(value, 5) AS DOUBLE)) AS a2 FROM src""")),

    // ---- clientpositive/create_genericudf.q: GenericUDFTestTranslate's
    //      full NULL/shorter-to/longer-to matrix through INSERT OVERWRITE
    //      (golden: bbc, bcc, NULL, NULL, NULL, bc, abc)
    QueryDef(
      "q904_qf_create_genericudf",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t = s"dest1_q904_$sfx"
        fresh(s, t)
        HiveQl.sql(s, "CREATE TEMPORARY FUNCTION test_translate AS " +
          "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestTranslate'")
        HiveQl.sql(s, s"CREATE TABLE $t (c1 STRING, c2 STRING, c3 STRING, " +
          "c4 STRING, c5 STRING, c6 STRING, c7 STRING)")
        HiveQl.sql(s, s"""FROM src INSERT OVERWRITE TABLE $t SELECT
          test_translate('abc', 'a', 'b'),
          test_translate('abc', 'ab', 'bc'),
          test_translate(NULL, 'a', 'b'),
          test_translate('a', NULL, 'b'),
          test_translate('a', 'a', NULL),
          test_translate('abc', 'ab', 'b'),
          test_translate('abc', 'a', 'ab')""")
        val df = HiveQl.sql(s, s"SELECT $t.* FROM $t LIMIT 1")
        val out = df.collect().toSeq
        HiveQl.sql(s, "DROP TEMPORARY FUNCTION test_translate")
        HiveQl.sql(s, s"drop table $t")
        import s.implicits._
        out.map(r => (0 until 7).map(i => Option(r.getString(i)))).map {
          v => (v(0), v(1), v(2), v(3), v(4), v(5), v(6))
        }.toDF("c1", "c2", "c3", "c4", "c5", "c6", "c7")
      },
      Some("""SELECT 'bbc' AS c1, 'bcc' AS c2, CAST(NULL AS VARCHAR) AS c3,
        CAST(NULL AS VARCHAR) AS c4, CAST(NULL AS VARCHAR) AS c5,
        'bc' AS c6, 'abc' AS c7""")),

    // ---- clientpositive/load_fs.q: filesystem (non-LOCAL) LOADs MOVE
    //      files; glob INPATHs expand, and a glob-matched DIRECTORY
    //      contributes its children (golden: 1025 rows / 3 files at each
    //      station, donor emptied)
    QueryDef(
      "q905_qf_load_fs",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val t1 = s"load_overwrite_q905_$sfx"
        val t2 = s"load_overwrite2_q905_$sfx"
        fresh(s, t1, t2)
        val base = s"/tmp/graft_q905_$sfx"
        val basePath = new org.apache.hadoop.fs.Path(base)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(basePath)) fs.delete(basePath, true)
        try {
          HiveQl.sql(s, s"create table $t1 (key string, value string) " +
            s"stored as textfile location 'file:$base/load_overwrite'")
          HiveQl.sql(s, s"create table $t2 (key string, value string) " +
            s"stored as textfile location 'file:$base/load2_overwrite2'")
          for (f <- Seq("kv1.txt", "kv2.txt", "kv3.txt"))
            HiveQl.sql(s, s"load data local inpath '$RefData/$f' into table $t1")
          def nFiles(d: String): Int = {
            val p = new org.apache.hadoop.fs.Path(s"$base/$d")
            if (!fs.exists(p)) 0
            else fs.listStatus(p).count(!_.getPath.getName.startsWith("_"))
          }
          val f0 = ordered(Seq(facts(s, 0, Seq(
            "t1_files" -> nFiles("load_overwrite").toString,
            "t1_rows" -> cnt(s, s"select count(*) from $t1").toString))))
          HiveQl.sql(s, s"load data inpath '$base/load_overwrite/kv*.txt' " +
            s"overwrite into table $t2")
          val f1 = facts(s, 1, Seq(
            "t2_files" -> nFiles("load2_overwrite2").toString,
            "t2_rows" -> cnt(s, s"select count(*) from $t2").toString,
            "donor_emptied" -> (nFiles("load_overwrite") == 0).toString))
          HiveQl.sql(s,
            s"load data inpath '$base/load2_*' overwrite into table $t1")
          val f2 = facts(s, 2, Seq(
            "t1_files_after" -> nFiles("load_overwrite").toString,
            "t1_rows_after" -> cnt(s, s"select count(*) from $t1").toString))
          ordered(Seq(f0, f1, f2))
        } finally {
          Seq(t1, t2).foreach(x => HiveQl.sql(s, s"drop table if exists $x"))
          if (fs.exists(basePath)) fs.delete(basePath, true)
        }
      },
      Some("""SELECT * FROM (VALUES
        (0, 't1_files|3'), (0, 't1_rows|1025'),
        (1, 't2_files|3'), (1, 't2_rows|1025'), (1, 'donor_emptied|true'),
        (2, 't1_files_after|3'), (2, 't1_rows_after|1025'))
        v(sec, c1) ORDER BY sec, c1"""))
  )
}
