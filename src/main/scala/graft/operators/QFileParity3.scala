package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 3 (round 12): the UDTF / script-operator /
  * transform / ppd-remainder / groupby-straggler files of clientpositive —
  * udtf_explode, udtf_json_tuple, udtf_parse_url_tuple, script_env_var1/2,
  * script_pipe, transform1/2, transform_ppr1/2, ppd_udf_case, ppd_random,
  * groupby2_limit, groupby_bigdata, groupby_distinct_samekey,
  * groupby_map_ppr_multi_distinct — over [[QFileParity]]'s fixtures.
  *
  * Adaptations, per the battery's conventions (each noted at its query):
  *  - UNION ALL branches carrying their own LIMIT are parenthesized
  *    (Hive's grammar scopes a branch LIMIT to the branch; Spark's parser
  *    requires the parens to read it the same way);
  *  - literal `.q` key constants that don't exist in the graft fixture's
  *    quadratic-residue key space are remapped to ones that do;
  *  - LIMIT-without-ORDER-BY and rand() queries get invariant-verdict
  *    oracles (the driver hash-compares rows, so the nondeterministic rows
  *    are checked against their determinizing invariant in-query).
  */
object QFileParity3 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcPartCte}

  private val NF = "NULLS FIRST"

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/udtf_explode.q: explode over array and map
    //      literals, bare and parenthesized AS forms, and re-aggregation
    //      of the exploded output. Four result statements union-tagged.
    QueryDef(
      "q418_qf_udtf_explode",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT * FROM (
               SELECT 1 AS sec, CAST(myCol AS STRING) AS c1, CAST(NULL AS STRING) AS c2
               FROM (SELECT explode(array(1,2,3)) AS (myCol) FROM src LIMIT 3)
               UNION ALL
               SELECT 2, CAST(a.myCol AS STRING), CAST(count(1) AS STRING)
               FROM (SELECT explode(array(1,2,3)) AS myCol FROM src LIMIT 3) a
               GROUP BY a.myCol
               UNION ALL
               SELECT 3, CAST(myKey AS STRING), myVal
               FROM (SELECT explode(map(1,'one',2,'two',3,'three')) as (myKey,myVal) FROM src LIMIT 3)
               UNION ALL
               SELECT 4, concat(CAST(a.myKey AS STRING), ':', a.myVal), CAST(count(1) AS STRING)
               FROM (SELECT explode(map(1,'one',2,'two',3,'three')) as (myKey,myVal) FROM src LIMIT 3) a
               GROUP BY a.myKey, a.myVal
             ) t ORDER BY sec, c1, c2""")
      },
      Some(s"""SELECT * FROM (VALUES
          (1,'1',NULL), (1,'2',NULL), (1,'3',NULL),
          (2,'1','1'), (2,'2','1'), (2,'3','1'),
          (3,'1','one'), (3,'2','two'), (3,'3','three'),
          (4,'1:one','1'), (4,'2:two','1'), (4,'3:three','1')
        ) v(sec, c1, c2) ORDER BY sec, c1 $NF, c2 $NF""")),

    // ---- clientpositive/udtf_json_tuple.q: json_tuple as lateral view
    //      and as a bare SELECT generator, missing/typed/null/invalid JSON
    //      fields; goldens transcribed from udtf_json_tuple.q.out (the
    //      inputs are literals — fixture-independent). UNION branches with
    //      LIMIT parenthesized (see scaladoc).
    QueryDef(
      "q419_qf_udtf_json_tuple",
      (s, dir) => {
        val tag = fixtures(s, dir)
        val t = s"json_t_$tag"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key string, jstring string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
             SELECT * FROM (
               (SELECT '1', '{"f1": "value1", "f2": "value2", "f3": 3, "f5": 5.23}' FROM src LIMIT 1)
               UNION ALL
               (SELECT '2', '{"f1": "value12", "f3": "value3", "f2": 2, "f4": 4.01}' FROM src LIMIT 1)
               UNION ALL
               (SELECT '3', '{"f1": "value13", "f4": "value44", "f3": "value33", "f2": 2, "f5": 5.01}' FROM src LIMIT 1)
               UNION ALL
               (SELECT '4', cast(null as string) FROM src LIMIT 1)
               UNION ALL
               (SELECT '5', '{"f1": "", "f5": null}' FROM src LIMIT 1)
               UNION ALL
               (SELECT '6', '[invalid JSON string]' FROM src LIMIT 1)
             ) s""")
        val l1 = HiveQl.sql(s, s"select a.key, b.* from $t a lateral view " +
          "json_tuple(a.jstring, 'f1', 'f2', 'f3', 'f4', 'f5') b " +
          "as f1, f2, f3, f4, f5 order by a.key")
        val l2 = HiveQl.sql(s, s"select json_tuple(a.jstring, 'f1', 'f2', " +
          s"'f3', 'f4', 'f5') as (f1, f2, f3, f4, f5) from $t a " +
          "order by f1, f2, f3")
        val l3 = HiveQl.sql(s, s"select a.key, b.f2, b.f5 from $t a " +
          "lateral view json_tuple(a.jstring, 'f1', 'f2', 'f3', 'f4', 'f5') " +
          "b as f1, f2, f3, f4, f5 order by a.key")
        val l4 = HiveQl.sql(s, s"select f2, count(*) from $t a lateral view " +
          "json_tuple(a.jstring, 'f1', 'f2', 'f3', 'f4', 'f5') b " +
          "as f1, f2, f3, f4, f5 where f1 is not null group by f2 order by f2")
        val pad6 = (d: DataFrame, sec: Int) => {
          val cs = d.columns.map(c => col(c).cast("string"))
          val padded = cs ++ Array.fill(6 - cs.length)(lit(null).cast("string"))
          d.select(lit(sec).as("sec") +: padded.zipWithIndex.map {
            case (c, i) => c.as(s"c${i + 1}") }: _*)
        }
        pad6(l1, 1).union(pad6(l2, 2)).union(pad6(l3, 3)).union(pad6(l4, 4))
          .sort(col("sec") +: (1 to 6).map(i => col(s"c$i")): _*)
      },
      Some(s"""SELECT * FROM (VALUES
          (1,'1','value1','value2','3',NULL,'5.23'),
          (1,'2','value12','2','value3','4.01',NULL),
          (1,'3','value13','2','value33','value44','5.01'),
          (1,'4',NULL,NULL,NULL,NULL,NULL),
          (1,'5','',NULL,NULL,NULL,NULL),
          (1,'6',NULL,NULL,NULL,NULL,NULL),
          (2,NULL,NULL,NULL,NULL,NULL,NULL),
          (2,NULL,NULL,NULL,NULL,NULL,NULL),
          (2,'',NULL,NULL,NULL,NULL,NULL),
          (2,'value1','value2','3',NULL,'5.23',NULL),
          (2,'value12','2','value3','4.01',NULL,NULL),
          (2,'value13','2','value33','value44','5.01',NULL),
          (3,'1','value2','5.23',NULL,NULL,NULL),
          (3,'2','2',NULL,NULL,NULL,NULL),
          (3,'3','2','5.01',NULL,NULL,NULL),
          (3,'4',NULL,NULL,NULL,NULL,NULL),
          (3,'5',NULL,NULL,NULL,NULL,NULL),
          (3,'6',NULL,NULL,NULL,NULL,NULL),
          (4,NULL,'1',NULL,NULL,NULL,NULL),
          (4,'2','2',NULL,NULL,NULL,NULL),
          (4,'value2','1',NULL,NULL,NULL,NULL)
        ) v(sec, c1, c2, c3, c4, c5, c6)
        ORDER BY sec, c1 $NF, c2 $NF, c3 $NF, c4 $NF, c5 $NF, c6 $NF""")),

    // ---- clientpositive/udtf_parse_url_tuple.q: parse_url_tuple lateral
    //      view + bare generator, case-sensitive part names ('host' reads
    //      NULL), QUERY:<key> extraction, malformed URLs. Goldens
    //      transcribed from the .q.out (literal inputs).
    QueryDef(
      "q420_qf_udtf_parse_url_tuple",
      (s, dir) => {
        val tag = fixtures(s, dir)
        val t = s"url_t_$tag"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t (key string, fullurl string)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $t
             SELECT * FROM (
               (SELECT '1', 'http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1' FROM src LIMIT 1)
               UNION ALL
               (SELECT '2', 'https://www.socs.uts.edu.au:80/MosaicDocs-old/url-primer.html?k1=tps#chapter1' FROM src LIMIT 1)
               UNION ALL
               (SELECT '3', 'ftp://sites.google.com/a/example.com/site/page' FROM src LIMIT 1)
               UNION ALL
               (SELECT '4', cast(null as string) FROM src LIMIT 1)
               UNION ALL
               (SELECT '5', 'htttp://' FROM src LIMIT 1)
               UNION ALL
               (SELECT '6', '[invalid url string]' FROM src LIMIT 1)
             ) s""")
        val parts = "'HOST', 'PATH', 'QUERY', 'REF', 'PROTOCOL', 'FILE', " +
          "'AUTHORITY', 'USERINFO', 'QUERY:k1'"
        val l1 = HiveQl.sql(s, s"select a.key, b.* from $t a lateral view " +
          s"parse_url_tuple(a.fullurl, $parts) b " +
          "as ho, pa, qu, re, pr, fi, au, us, qk1 order by a.key")
        val l2 = HiveQl.sql(s, s"select parse_url_tuple(a.fullurl, $parts) " +
          s"as (ho, pa, qu, re, pr, fi, au, us, qk1) from $t a " +
          "order by ho, pa, qu")
        val l3 = HiveQl.sql(s, "select a.key, b.ho, b.qu, b.qk1, b.err1, " +
          s"b.err2, b.err3 from $t a lateral view parse_url_tuple(a.fullurl, " +
          s"$parts, 'host', 'query', 'QUERY:nonExistCol') b " +
          "as ho, pa, qu, re, pr, fi, au, us, qk1, err1, err2, err3 " +
          "order by a.key")
        val l4 = HiveQl.sql(s, s"select ho, count(*) from $t a lateral view " +
          s"parse_url_tuple(a.fullurl, $parts) b " +
          "as ho, pa, qu, re, pr, fi, au, us, qk1 " +
          "where qk1 is not null group by ho")
        val pad10 = (d: DataFrame, sec: Int) => {
          val cs = d.columns.map(c => col(c).cast("string"))
          val padded = cs ++ Array.fill(10 - cs.length)(lit(null).cast("string"))
          d.select(lit(sec).as("sec") +: padded.zipWithIndex.map {
            case (c, i) => c.as(s"c${i + 1}") }: _*)
        }
        pad10(l1, 1).union(pad10(l2, 2)).union(pad10(l3, 3)).union(pad10(l4, 4))
          .sort(col("sec") +: (1 to 10).map(i => col(s"c$i")): _*)
      },
      Some {
        val u1 = Seq("facebook.com", "/path1/p.php", "k1=v1&k2=v2", "Ref1",
          "http", "/path1/p.php?k1=v1&k2=v2", "facebook.com", null, "v1")
        val u2 = Seq("www.socs.uts.edu.au", "/MosaicDocs-old/url-primer.html",
          "k1=tps", "chapter1", "https", "/MosaicDocs-old/url-primer.html?k1=tps",
          "www.socs.uts.edu.au:80", null, "tps")
        val u3 = Seq("sites.google.com", "/a/example.com/site/page", null,
          null, "ftp", "/a/example.com/site/page", "sites.google.com", null, null)
        val nulls = Seq.fill(9)(null: String)
        def q(v: String) = if (v == null) "NULL" else s"'$v'"
        def row(sec: Int, cells: Seq[String]) = {
          val padded = cells.padTo(10, null: String)
          s"($sec,${padded.map(q).mkString(",")})"
        }
        val rows = Seq(
          row(1, "1" +: u1), row(1, "2" +: u2), row(1, "3" +: u3),
          row(1, "4" +: nulls), row(1, "5" +: nulls), row(1, "6" +: nulls),
          row(2, u1), row(2, u2), row(2, u3),
          row(2, nulls), row(2, nulls), row(2, nulls),
          row(3, Seq("1", "facebook.com", "k1=v1&k2=v2", "v1", null, null, null)),
          row(3, Seq("2", "www.socs.uts.edu.au", "k1=tps", "tps", null, null, null)),
          row(3, Seq("3", "sites.google.com", null, null, null, null, null)),
          row(3, Seq("4", null, null, null, null, null, null)),
          row(3, Seq("5", null, null, null, null, null, null)),
          row(3, Seq("6", null, null, null, null, null, null)),
          row(4, Seq("facebook.com", "1")),
          row(4, Seq("www.socs.uts.edu.au", "1")))
        s"""SELECT * FROM (VALUES ${rows.mkString(", ")})
           v(sec, c1, c2, c3, c4, c5, c6, c7, c8, c9, c10)
           ORDER BY sec, c1 $NF, c2 $NF, c3 $NF, c4 $NF, c5 $NF,
                    c6 $NF, c7 $NF, c8 $NF, c9 $NF, c10 $NF"""
      }),

    // ---- clientpositive/script_env_var1.q: each script operator instance
    //      exports a UNIQUE id env var — two TRANSFORM legs echo it and the
    //      GROUP BY must see two distinct keys (two rows of count 1).
    //      UNION branches parenthesized (branch-scoped LIMIT, see scaladoc).
    QueryDef(
      "q421_qf_script_env_var1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT count(1) AS c FROM
             ( (SELECT TRANSFORM('echo $HIVE_SCRIPT_OPERATOR_ID') USING 'bash' AS key FROM src LIMIT 1)
               UNION ALL
               (SELECT TRANSFORM('echo $HIVE_SCRIPT_OPERATOR_ID') USING 'bash' AS key FROM src LIMIT 1) ) a
             GROUP BY key ORDER BY c""")
      },
      Some("SELECT CAST(1 AS BIGINT) AS c UNION ALL SELECT CAST(1 AS BIGINT) ORDER BY c")),

    // ---- clientpositive/script_env_var2.q: the id env var NAME follows
    //      hive.script.operator.id.env.var (HiveConf.java:266)
    QueryDef(
      "q422_qf_script_env_var2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.script.operator.id.env.var = MY_ID")
        HiveQl.sql(s,
          """SELECT count(1) AS c FROM
             ( (SELECT TRANSFORM('echo $MY_ID') USING 'bash' AS key FROM src LIMIT 1)
               UNION ALL
               (SELECT TRANSFORM('echo $MY_ID') USING 'bash' AS key FROM src LIMIT 1) ) a
             GROUP BY key ORDER BY c""")
      },
      Some("SELECT CAST(1 AS BIGINT) AS c UNION ALL SELECT CAST(1 AS BIGINT) ORDER BY c")),

    // ---- clientpositive/script_pipe.q: a script that consumes NO input
    //      ('true') yields zero rows without failing the query (partial
    //      consumption), and 'head -n 1' both survives the producer-side
    //      broken pipe and demonstrates the explicit-AS column rule (each
    //      declared col = one field, extras DROPPED — golden
    //      `238 val_238 238 val_238` for 12 in / 4 declared). The head
    //      output row is partition-order-dependent → invariant verdict.
    QueryDef(
      "q423_qf_script_pipe",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.exec.script.allow.partial.consumption = true")
        val l1 = HiveQl.sql(s,
          "SELECT TRANSFORM(*) USING 'true' AS a, b, c FROM (SELECT * FROM src LIMIT 1) tmp")
        val l2 = HiveQl.sql(s,
          "SELECT TRANSFORM(key, value, key, value, key, value, key, value, " +
            "key, value, key, value) USING 'head -n 1' as a,b,c,d FROM src")
        val v1 = l1.agg(count(lit(1)).cast("string").as("v"))
          .select(lit(1).as("sec"), col("v"))
        val v2 = l2.agg(when(count(lit(1)) === 1 &&
            min(when(col("a") === col("c") && col("b") === col("d") &&
              col("b") === concat(lit("val_"), col("a")), 1).otherwise(0)) === 1,
            "OK").otherwise("BAD").as("v"))
          .select(lit(2).as("sec"), col("v"))
        v1.union(v2).sort("sec")
      },
      Some("SELECT * FROM (VALUES (1, '0'), (2, 'OK')) v(sec, v) ORDER BY sec")),

    // ---- clientpositive/transform1.q: TRANSFORM output columns with
    //      COMPLEX types parse through the LazySimpleSerDe separator
    //      ladder (array<bigint> over an empty table; array<int> over the
    //      literal 0^B1^B2 → [0,1,2]). The ^B bytes are written as 
    //      (Hive's '\002' octal escape, same byte).
    QueryDef(
      "q424_qf_transform1",
      (s, dir) => {
        val tag = fixtures(s, dir)
        val (t1, t2) = (s"transform1_t1_$tag", s"transform1_t2_$tag")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1(a string, b string)")
        HiveQl.sql(s, s"CREATE TABLE $t2(col array<int>)")
        HiveQl.sql(s, s"INSERT OVERWRITE TABLE $t2 SELECT array(1,2,3) FROM src LIMIT 1")
        val l1 = HiveQl.sql(s,
          s"SELECT transform(*) USING 'cat' AS (col array<bigint>) FROM $t1")
        val l2 = HiveQl.sql(s,
          s"SELECT transform('012') USING 'cat' AS (col array<int>) FROM $t2")
        val v1 = l1.agg(count(lit(1)).cast("string").as("c"))
          .select(lit(1).as("sec"), col("c"))
        val v2 = l2.select(lit(2).as("sec"),
          concat_ws(",", col("col")).as("c"))
        v1.union(v2).sort("sec")
      },
      Some("SELECT * FROM (VALUES (1, '0'), (2, '0,1,2')) v(sec, c) ORDER BY sec")),

    // ---- clientpositive/transform2.q: TRANSFORM with a computed input
    //      expr and NO AS clause → default (key, value) output, value NULL
    //      for a one-field line (golden `23 NULL`). Which src row reaches
    //      head-of-partition is order-dependent → invariant verdict.
    QueryDef(
      "q425_qf_transform2",
      (s, dir) => {
        fixtures(s, dir)
        val d = HiveQl.sql(s,
          "SELECT TRANSFORM(substr(key, 1, 2)) USING 'cat' FROM src LIMIT 1")
        val src = HiveQl.sql(s, "SELECT DISTINCT substr(key, 1, 2) AS p FROM src")
        d.join(src, d("key") === src("p"), "left")
          .agg(when(count(lit(1)) === 1 &&
              min(when(col("p").isNotNull && col("value").isNull, 1)
                .otherwise(0)) === 1, "OK").otherwise("BAD").as("v"))
      },
      Some("SELECT 'OK' AS v")),

    // ---- clientpositive/transform_ppr1.q: predicate pushdown THROUGH a
    //      TRANSFORM + CLUSTER BY subquery — outer ds/tkey filters over the
    //      script's output (ds filter applied post-transform)
    QueryDef(
      "q426_qf_transform_ppr1",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s,
          """FROM (
               FROM srcpart src
               SELECT TRANSFORM(src.ds, src.key, src.value)
                      USING '/bin/cat' AS (ds, tkey, tvalue)
               CLUSTER BY tkey
             ) tmap
             SELECT tmap.tkey, tmap.tvalue WHERE tmap.tkey < 100 AND tmap.ds = '2008-04-08'""")
          .groupBy("tkey", "tvalue").agg(count(lit(1)).as("n"))
          .sort("tkey", "tvalue")
      },
      Some(s"""$SrcPartCte
        SELECT key AS tkey, value AS tvalue, count(*) AS n
        FROM srcpart
        WHERE ds = '2008-04-08' AND CAST(key AS DOUBLE) < 100
        GROUP BY 1, 2 ORDER BY tkey, tvalue""")),

    // ---- clientpositive/transform_ppr2.q: same pipeline with the ds
    //      filter INSIDE the transform subquery (pushed to the scan)
    QueryDef(
      "q427_qf_transform_ppr2",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s,
          """FROM (
               FROM srcpart src
               SELECT TRANSFORM(src.ds, src.key, src.value)
                      USING '/bin/cat' AS (ds, tkey, tvalue)
               WHERE src.ds = '2008-04-08'
               CLUSTER BY tkey
             ) tmap
             SELECT tmap.tkey, tmap.tvalue WHERE tmap.tkey < 100""")
          .groupBy("tkey", "tvalue").agg(count(lit(1)).as("n"))
          .sort("tkey", "tvalue")
      },
      Some(s"""$SrcPartCte
        SELECT key AS tkey, value AS tvalue, count(*) AS n
        FROM srcpart
        WHERE ds = '2008-04-08' AND CAST(key AS DOUBLE) < 100
        GROUP BY 1, 2 ORDER BY tkey, tvalue""")),

    // ---- clientpositive/ppd_udf_case.q: a non-deterministic-SAFE udf
    //      (CASE) in the WHERE of a self-join over srcpart; rows pass only
    //      on the TRUE branch. The .q's keys 27/38 don't exist in the
    //      graft key space ((rn*rn)%500 is never ≡3 mod 4) → remapped to
    //      36 (TRUE) / 16 (FALSE), preserving the TRUE/FALSE/NULL shape.
    //      SELECT *'s duplicate column names dealiased for the readback.
    QueryDef(
      "q428_qf_ppd_udf_case",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.optimize.ppd=true")
        HiveQl.sql(s,
          """SELECT a.key AS k1, a.value AS v1, a.ds AS ds1, a.hr AS hr1,
                    b.key AS k2, b.value AS v2, b.ds AS ds2, b.hr AS hr2
             FROM srcpart a JOIN srcpart b
             ON a.key = b.key
             WHERE a.ds = '2008-04-08' AND
                   b.ds = '2008-04-08' AND
                   CASE a.key
                     WHEN '36' THEN TRUE
                     WHEN '16' THEN FALSE
                     ELSE NULL
                    END
             ORDER BY a.key, a.value, a.ds, a.hr, b.key, b.value, b.ds, b.hr""")
      },
      Some(s"""$SrcPartCte
        SELECT a.key AS k1, a.value AS v1, a.ds AS ds1, a.hr AS hr1,
               b.key AS k2, b.value AS v2, b.ds AS ds2, b.hr AS hr2
        FROM srcpart a JOIN srcpart b ON a.key = b.key
        WHERE a.ds = '2008-04-08' AND b.ds = '2008-04-08' AND
              CASE a.key WHEN '36' THEN TRUE WHEN '16' THEN FALSE
                ELSE NULL END
        ORDER BY k1, v1, ds1, hr1, k2, v2, ds2, hr2""")),

    // ---- clientpositive/ppd_random.q (EXPLAIN-only in the reference):
    //      rand() in the outer WHERE must NOT push below the join — run
    //      the real query under both hive.ppd.remove.duplicatefilters legs
    //      and verdict the invariant: output ⊆ the deterministic join,
    //      within count. (The nondeterministic-projection barrier keeps
    //      rand() above the join; a pushed rand() would re-draw per side
    //      and can emit rows outside the join result only via missing
    //      rows — the ⊆-and-bounded check is the observable invariant.)
    QueryDef(
      "q429_qf_ppd_random",
      (s, dir) => {
        fixtures(s, dir)
        val full = HiveQl.sql(s,
          """SELECT src1.c1, src2.c4
             FROM (SELECT src.key as c1, src.value as c2 from src ) src1
             JOIN (SELECT src.key as c3, src.value as c4 from src where src.key > '2' ) src2
             ON src1.c1 = src2.c3""").localCheckpoint(true)
        val legs = Seq("false", "true").map { v =>
          HiveQl.sql(s, s"SET hive.ppd.remove.duplicatefilters=$v")
          val r = HiveQl.sql(s,
            """SELECT src1.c1, src2.c4
               FROM (SELECT src.key as c1, src.value as c2 from src ) src1
               JOIN (SELECT src.key as c3, src.value as c4 from src where src.key > '2' ) src2
               ON src1.c1 = src2.c3
               WHERE rand() > 0.5""").localCheckpoint(true)
          val subset = r.except(full).count() == 0
          val bounded = r.count() <= full.count()
          (v, if (subset && bounded) "OK" else "BAD")
        }
        import s.implicits._
        legs.toDF("leg", "v").sort("leg")
      },
      Some("SELECT * FROM (VALUES ('false','OK'), ('true','OK')) v(leg, v) ORDER BY leg")),

    // ---- clientpositive/groupby2_limit.q: GROUP BY + LIMIT without
    //      ORDER BY — which 5 groups surface is plan-dependent → verdict:
    //      exactly 5 rows, every key a real group key (battery's
    //      LIMIT-without-ORDER-BY convention)
    QueryDef(
      "q430_qf_groupby2_limit",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET mapred.reduce.tasks=31")
        val d = HiveQl.sql(s,
          "SELECT src.key, sum(substr(src.value,5)) AS s FROM src GROUP BY src.key LIMIT 5")
        val keys = HiveQl.sql(s, "SELECT DISTINCT key FROM src")
        d.join(keys, Seq("key"), "left_semi")
          .agg(count(lit(1)).as("n"))
          .select(when(col("n") === 5, "OK").otherwise("BAD").as("v"), col("n"))
      },
      Some("SELECT 'OK' AS v, CAST(5 AS BIGINT) AS n")),

    // ---- clientpositive/groupby_bigdata.q: count(distinct) over a
    //      data-dumping MAP script under a squeezed map-aggr hash
    //      (hive.map.aggr.hash.percentmemory=0.3). Adaptations: the
    //      reference's dumpdata_script.py is python 2 — same structure
    //      ported to python 3, outer range 50 → 5 for battery runtime
    //      (overlapping-range distinct semantics preserved: ranges
    //      [20000i, 20000i+20021] union to 4*20000+20022 = 100022
    //      distinct values, invariant to how many partitions run the
    //      script); the .q's key 10 isn't in the graft key space → 36.
    QueryDef(
      "q431_qf_groupby_bigdata",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SET hive.map.aggr.hash.percentmemory = 0.3")
        HiveQl.sql(s, "SET hive.mapred.local.mem = 384")
        val script = new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft_dumpdata_script.py")
        java.nio.file.Files.write(script.toPath,
          ("import sys\n" +
            "for i in range(5):\n" +
            "   for j in range(5):\n" +
            "      for k in range(20022):\n" +
            "         print(20000 * i + k)\n" +
            "for line in sys.stdin:\n" +
            "  pass\n").getBytes("UTF-8"))
        s.sql(s"ADD FILE '${script.getAbsolutePath}'")
        HiveQl.sql(s,
          """select count(distinct subq.key) AS c from
             (FROM src MAP src.key USING 'python3 graft_dumpdata_script.py' AS key WHERE src.key = 36) subq""")
      },
      Some("SELECT CAST(100022 AS BIGINT) AS c")),

    // ---- clientpositive/groupby_distinct_samekey.q: sum(DISTINCT c)
    //      grouped by the SAME column c (the distinct set per group is a
    //      singleton). The .q runs it over the freshly-created EMPTY t1
    //      (leg 1); a seeded leg proves the collapse on real rows.
    QueryDef(
      "q432_qf_groupby_distinct_samekey",
      (s, dir) => {
        val tag = fixtures(s, dir)
        val t = s"distinct_samekey_$tag"
        fresh(s, t)
        HiveQl.sql(s, s"CREATE TABLE $t(key_int1 int, key_int2 int, " +
          "key_string1 string, key_string2 string)")
        // materialize the empty-table leg BEFORE the seed insert — a lazy
        // DF would otherwise read the post-insert table
        val l1 = HiveQl.sql(s,
          s"select key_int1, sum(distinct key_int1) AS s from $t group by key_int1")
          .localCheckpoint(true)
        HiveQl.sql(s, s"INSERT INTO $t VALUES (1, 10, 'a', 'x'), " +
          "(1, 11, 'b', 'y'), (2, 12, 'c', 'z')")
        val l2 = HiveQl.sql(s,
          s"select key_int1, sum(distinct key_int1) AS s from $t group by key_int1")
        l1.select(lit(1).as("sec"), col("key_int1"), col("s"))
          .union(l2.select(lit(2).as("sec"), col("key_int1"), col("s")))
          .sort("sec", "key_int1")
      },
      Some("""SELECT * FROM (VALUES
          (2, 1, CAST(1 AS BIGINT)), (2, 2, CAST(2 AS BIGINT))
        ) v(sec, key_int1, s) ORDER BY sec, key_int1""")),

    // ---- clientpositive/groupby_map_ppr_multi_distinct.q: the g2
    //      multi-distinct battery over a PARTITION-PRUNED srcpart scan
    //      under hive.map.aggr=true (count(DISTINCT value) as c4, vs
    //      groupby2's count(value))
    QueryDef(
      "q433_qf_groupby_map_ppr_multi_distinct",
      (s, dir) => {
        val tag = fixtures(s, dir)
        val d = s"dest_gmppr_$tag"
        fresh(s, d)
        HiveQl.sql(s, "SET hive.map.aggr=true")
        HiveQl.sql(s, "SET hive.groupby.skewindata=false")
        HiveQl.sql(s, "SET mapred.reduce.tasks=31")
        HiveQl.sql(s, s"CREATE TABLE $d(key STRING, c1 INT, c2 STRING, " +
          "c3 INT, c4 INT) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"""FROM srcpart src
             INSERT OVERWRITE TABLE $d
             SELECT substr(src.key,1,1), count(DISTINCT substr(src.value,5)),
                    concat(substr(src.key,1,1),sum(substr(src.value,5))),
                    sum(DISTINCT substr(src.value, 5)), count(DISTINCT src.value)
             WHERE src.ds = '2008-04-08'
             GROUP BY substr(src.key,1,1)""")
        HiveQl.sql(s, s"SELECT $d.* FROM $d ORDER BY key")
      },
      Some(s"""$SrcPartCte
        SELECT substr(key,1,1) AS key,
               CAST(count(DISTINCT substr(value,5)) AS INT) AS c1,
               substr(key,1,1) ||
                 CAST(sum(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) AS c2,
               CAST(sum(DISTINCT CAST(substr(value,5) AS DOUBLE)) AS INT) AS c3,
               CAST(count(DISTINCT value) AS INT) AS c4
        FROM srcpart WHERE ds = '2008-04-08'
        GROUP BY substr(key,1,1) ORDER BY key"""))
  )
}
