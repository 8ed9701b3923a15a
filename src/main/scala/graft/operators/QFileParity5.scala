package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 5 (round 12): the remaining SELECT-bearing
  * udaf/udf singles of clientpositive — the aggregate batteries
  * (collect_set under the four map.aggr×skewindata legs, corr/covar over
  * the reference's covar_tab.txt, number_format's string-sum semantics,
  * percentile_approx/histogram_numeric verdicts, ngrams/context_ngrams in
  * the reference's own output shape over text-en.txt) and the scalar
  * batteries (case/when/field/hash/div/like/parse_url/reflect/E/PI and the
  * comparison operators).
  *
  * Oracles follow the established conventions: DuckDB SQL over the same
  * parquet (SrcCte for src), transcribed reference goldens for literal
  * batteries, invariant verdicts where the reference's algorithm is
  * estimation-shaped (percentile_approx, histogram_numeric) or where the
  * check is sketch-vs-exact equality (ngrams at this corpus size is exact
  * by the PruneFactor bound — the verdict PROVES it).
  */
object QFileParity5 extends QueryModule {

  import QFileParity.{fixtures, fresh, SrcCte, RefData}

  /** covar_tab (udaf_corr/covar_pop/covar_samp.q): the reference's 6-row
    * tab-delimited fixture with NULL holes in b and c.
    */
  private def covarTab(s: SparkSession, dir: String): String = {
    val tb = s"covar_tab_${fixtures(s, dir)}"
    fresh(s, tb)
    HiveQl.sql(s, s"CREATE TABLE $tb (a INT, b INT, c INT) ROW FORMAT " +
      s"DELIMITED FIELDS TERMINATED BY '\t' STORED AS TEXTFILE")
    HiveQl.sql(s,
      s"LOAD DATA LOCAL INPATH '$RefData/covar_tab.txt' OVERWRITE INTO TABLE $tb")
    tb
  }

  /** The five-stage query shared by the covar family: empty set, NULL-holed
    * prefix, singleton, per-group, full table.
    */
  private def covarStages(s: SparkSession, tb: String, fn: String): DataFrame = {
    def leg(pred: String, stage: Int) = HiveQl.sql(s,
      s"SELECT CAST(NULL AS INT) AS a, round($fn(b, c), 10) AS v FROM $tb $pred")
      .withColumn("stage", lit(stage))
    leg("WHERE a < 1", 0)
      .union(leg("WHERE a < 3", 1))
      .union(leg("WHERE a = 3", 2))
      .union(HiveQl.sql(s,
        s"SELECT a, round($fn(b, c), 10) AS v FROM $tb GROUP BY a")
        .withColumn("stage", lit(3)))
      .union(leg("", 4))
      .orderBy(col("stage"), col("a").asc_nulls_first)
  }

  private val CovarCte =
    """WITH covar_tab AS (SELECT * FROM (VALUES
         (1, NULL, 15), (2, 3, NULL), (3, 7, 12),
         (4, 4, 14), (5, 8, 17), (6, 2, 11)) t(a, b, c))"""

  private def covarOracle(fn: String) =
    s"""$CovarCte
       SELECT * FROM (
         SELECT CAST(NULL AS INT) AS a, round($fn(b, c), 10) AS v, 0 AS stage
           FROM covar_tab WHERE a < 1
         UNION ALL SELECT NULL, round($fn(b, c), 10), 1 FROM covar_tab WHERE a < 3
         UNION ALL SELECT NULL, round($fn(b, c), 10), 2 FROM covar_tab WHERE a = 3
         UNION ALL SELECT a, round($fn(b, c), 10), 3 FROM covar_tab GROUP BY a
         UNION ALL SELECT NULL, round($fn(b, c), 10), 4 FROM covar_tab
       ) z ORDER BY stage, a NULLS FIRST"""

  /** kafka (udaf_ngrams/udaf_context_ngrams.q): one STRING column over the
    * reference's text-en.txt (Kafka's Metamorphosis excerpt).
    */
  private def kafkaTab(s: SparkSession, dir: String): String = {
    val tb = s"kafka_${fixtures(s, dir)}"
    fresh(s, tb)
    HiveQl.sql(s, s"CREATE TABLE $tb (contents STRING) STORED AS TEXTFILE")
    HiveQl.sql(s,
      s"LOAD DATA LOCAL INPATH '$RefData/text-en.txt' INTO TABLE $tb")
    tb
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- clientpositive/udaf_collect_set.q: the same GROUP BY under all
    //      four hive.map.aggr × hive.groupby.skewindata legs — results
    //      must be identical (the SETs pick plans, not semantics)
    QueryDef(
      "q473_qf_udaf_collect_set",
      (s, dir) => {
        fixtures(s, dir)
        val legs = Seq(("false", "false"), ("true", "false"),
          ("false", "true"), ("true", "true")).zipWithIndex.map {
          case ((ma, skew), i) =>
            HiveQl.sql(s, s"SET hive.map.aggr = $ma")
            HiveQl.sql(s, s"SET hive.groupby.skewindata = $skew")
            // conf flips around lazy DFs don't stick — materialize per leg
            HiveQl.sql(s,
              """SELECT key, collect_set(value) AS vals
                 FROM src GROUP BY key ORDER BY key LIMIT 20""")
              .selectExpr("key", "concat_ws(',', sort_array(vals)) AS vals")
              .withColumn("leg", lit(i)).localCheckpoint(true)
        }
        legs.reduce(_ union _).orderBy("leg", "key")
      },
      Some(s"""$SrcCte
        SELECT key, array_to_string(list_sort(list(DISTINCT value)), ',') AS vals, leg
        FROM src, (SELECT * FROM (VALUES (0),(1),(2),(3)) l(leg)) legs
        GROUP BY key, leg
        QUALIFY row_number() OVER (PARTITION BY leg ORDER BY key) <= 20
        ORDER BY leg, key""")),

    // ---- clientpositive/udaf_corr.q (goldens: empty/NULL-holed/singleton
    //      sets are NULL; full table 0.6633880657639323)
    QueryDef(
      "q474_qf_udaf_corr",
      (s, dir) => covarStages(s, covarTab(s, dir), "corr"),
      Some(covarOracle("corr"))),

    // ---- clientpositive/udaf_covar_pop.q
    QueryDef(
      "q475_qf_udaf_covar_pop",
      (s, dir) => covarStages(s, covarTab(s, dir), "covar_pop"),
      Some(covarOracle("covar_pop"))),

    // ---- clientpositive/udaf_covar_samp.q
    QueryDef(
      "q476_qf_udaf_covar_samp",
      (s, dir) => covarStages(s, covarTab(s, dir), "covar_samp"),
      Some(covarOracle("covar_samp"))),

    // ---- clientpositive/udaf_number_format.q: sum over unparseable
    //      STRINGs is 0.0 (GenericUDAFSum flips `empty` before the parse
    //      throws — plans/HiveStringSum.scala), while avg/variance/std
    //      count only successful parses and return NULL
    QueryDef(
      "q477_qf_udaf_number_format",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT sum('a') AS c1, avg('a') AS c2,
                    variance('a') AS c3, std('a') AS c4 FROM src""")
      },
      Some("""SELECT CAST(0.0 AS DOUBLE) AS c1, CAST(NULL AS DOUBLE) AS c2,
                     CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS c4""")),

    // ---- clientpositive/udaf_percentile_approx.q: the 12-leg sweep
    //      (double/int input × default/100/1000 accuracy × scalar/array
    //      percentiles). The reference's own goldens are algorithm-specific
    //      estimates; the parity contract is the estimation BOUND — every
    //      leg within range/20 of the exact order statistic (accuracy 100
    //      over 500 rows bounds rank error at n/100 = 5 rows)
    QueryDef(
      "q478_qf_udaf_percentile_approx",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """WITH v AS (SELECT CAST(substr(value, 5) AS DOUBLE) AS x FROM src),
             e AS (SELECT percentile(CAST(x AS BIGINT), 0.5) AS med,
                          percentile(CAST(x AS BIGINT),
                            array(0.05D, 0.5D, 0.95D, 0.98D)) AS meds
                   FROM v),
             a AS (SELECT
                percentile_approx(x, 0.5) AS d1,
                percentile_approx(x, 0.5, 100) AS d2,
                percentile_approx(x, 0.5, 1000) AS d3,
                CAST(percentile_approx(CAST(x AS INT), 0.5) AS DOUBLE) AS i1,
                CAST(percentile_approx(CAST(x AS INT), 0.5, 100) AS DOUBLE) AS i2,
                CAST(percentile_approx(CAST(x AS INT), 0.5, 1000) AS DOUBLE) AS i3,
                percentile_approx(x, array(0.05D, 0.5D, 0.95D, 0.98D)) AS da1,
                percentile_approx(x, array(0.05D, 0.5D, 0.95D, 0.98D), 100) AS da2,
                percentile_approx(x, array(0.05D, 0.5D, 0.95D, 0.98D), 1000) AS da3,
                percentile_approx(CAST(x AS INT), array(0.05D, 0.5D, 0.95D, 0.98D)) AS ia1,
                percentile_approx(CAST(x AS INT), array(0.05D, 0.5D, 0.95D, 0.98D), 100) AS ia2,
                percentile_approx(CAST(x AS INT), array(0.05D, 0.5D, 0.95D, 0.98D), 1000) AS ia3
               FROM v)
             SELECT
               abs(d1 - med) <= 25 AS ok1, abs(d2 - med) <= 25 AS ok2,
               abs(d3 - med) <= 25 AS ok3, abs(i1 - med) <= 25 AS ok4,
               abs(i2 - med) <= 25 AS ok5, abs(i3 - med) <= 25 AS ok6,
               forall(zip_with(da1, meds, (p, e) -> abs(p - e) <= 25), b -> b) AS ok7,
               forall(zip_with(da2, meds, (p, e) -> abs(p - e) <= 25), b -> b) AS ok8,
               forall(zip_with(da3, meds, (p, e) -> abs(p - e) <= 25), b -> b) AS ok9,
               forall(zip_with(transform(ia1, q -> CAST(q AS DOUBLE)), meds,
                 (p, e) -> abs(p - e) <= 25), b -> b) AS ok10,
               forall(zip_with(transform(ia2, q -> CAST(q AS DOUBLE)), meds,
                 (p, e) -> abs(p - e) <= 25), b -> b) AS ok11,
               forall(zip_with(transform(ia3, q -> CAST(q AS DOUBLE)), meds,
                 (p, e) -> abs(p - e) <= 25), b -> b) AS ok12
             FROM a, e""")
      },
      Some("""SELECT true AS ok1, true AS ok2, true AS ok3, true AS ok4,
                     true AS ok5, true AS ok6, true AS ok7, true AS ok8,
                     true AS ok9, true AS ok10, true AS ok11, true AS ok12""")),

    // ---- clientpositive/udaf_histogram_numeric.q: nbins sweep 2/3/20/200
    //      under the q66 invariant verdict (bin count, conserved weight,
    //      in-range sorted centroids; 200 > |distinct| collapses to one
    //      bin per distinct value)
    QueryDef(
      "q479_qf_udaf_histogram_numeric",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """WITH v AS (SELECT CAST(substr(value, 5) AS DOUBLE) AS x FROM src),
             h AS (SELECT histogram_numeric(x, 2) AS h2,
                          histogram_numeric(x, 3) AS h3,
                          histogram_numeric(x, 20) AS h20,
                          histogram_numeric(x, 200) AS h200,
                          count(1) AS n, count(DISTINCT x) AS nd,
                          min(x) AS lo, max(x) AS hi
                   FROM v)
             SELECT size(h2) = 2 AS bins2, size(h3) = 3 AS bins3,
                    size(h20) = 20 AS bins20,
                    size(h200) = least(200L, nd) AS bins200,
                    abs(aggregate(h2, 0D, (a, b) -> a + b.y) - n) < 1e-6 AS w2,
                    abs(aggregate(h3, 0D, (a, b) -> a + b.y) - n) < 1e-6 AS w3,
                    abs(aggregate(h20, 0D, (a, b) -> a + b.y) - n) < 1e-6 AS w20,
                    abs(aggregate(h200, 0D, (a, b) -> a + b.y) - n) < 1e-6 AS w200,
                    aggregate(h20, true, (acc, b) -> acc AND b.x >= lo AND b.x <= hi) AS rng20,
                    array_sort(transform(h200, b -> b.x)) = transform(h200, b -> b.x) AS sorted200
             FROM h""")
      },
      Some("""SELECT true AS bins2, true AS bins3, true AS bins20,
                     true AS bins200, true AS w2, true AS w3, true AS w20,
                     true AS w200, true AS rng20, true AS sorted200""")),

    // ---- clientpositive/udaf_ngrams.q: k-gram sweep 1..5 over
    //      sentences(lower(contents)) in the reference's output shape
    //      (.estfrequency) — the verdict proves the sketch equals the
    //      EXACT top-100 at this corpus size (vocabulary < PruneFactor·k),
    //      which is the reference's own estimation posture
    QueryDef(
      "q480_qf_udaf_ngrams",
      (s, dir) => {
        val tb = kafkaTab(s, dir)
        val legs = (1 to 5).map { k =>
          HiveQl.sql(s,
            s"""WITH ss AS (SELECT sentences(lower(contents)) AS sents FROM $tb),
               sketch AS (
                 SELECT ngrams(sents, $k, 100, 1000) AS grams FROM ss),
               exact AS (
                 SELECT concat_ws(' ', slice(sent, i, $k)) AS gram
                 FROM (SELECT explode(sents) AS sent FROM ss) sentrows
                 LATERAL VIEW explode(slice(sequence(1, greatest(size(sent) - $k + 1, 1)),
                   1, greatest(size(sent) - $k + 1, 0))) t AS i),
               etop AS (
                 SELECT gram, count(1) AS f FROM exact GROUP BY gram
                 ORDER BY f DESC, gram LIMIT 100)
               SELECT $k AS k, size(grams) AS n_grams,
                 array_sort(transform(grams, g ->
                   concat(concat_ws(' ', g.ngram), '#',
                          CAST(CAST(g.estfrequency AS BIGINT) AS STRING)))) =
                 (SELECT array_sort(collect_list(concat(gram, '#',
                     CAST(f AS STRING)))) FROM etop) AS exact_match,
                 CAST(grams[0].estfrequency AS BIGINT) AS top_freq
               FROM sketch""").localCheckpoint(true)
        }
        legs.reduce(_ union _).orderBy("k")
          .selectExpr("k", "n_grams", "exact_match",
            "top_freq > 0 AS top_positive")
      },
      Some("""SELECT * FROM (VALUES
          (1, 100, true, true), (2, 100, true, true), (3, 100, true, true),
          (4, 100, true, true), (5, 100, true, true))
          v(k, n_grams, exact_match, top_positive) ORDER BY k""")),

    // ---- clientpositive/udaf_context_ngrams.q: the five context patterns
    //      (wildcard slots as NULLs), each verified against the exact
    //      filtered count computed from the same sentences
    QueryDef(
      "q481_qf_udaf_context_ngrams",
      (s, dir) => {
        val tb = kafkaTab(s, dir)
        // (tag, pattern SQL, pattern length, slot predicate, gram projector)
        val cases = Seq(
          (0, "array(CAST(NULL AS STRING))", 1, "true", "sent[i-1]"),
          (1, "array('he', CAST(NULL AS STRING))", 2, "sent[i-1] = 'he'", "sent[i]"),
          (2, "array(CAST(NULL AS STRING), 'salesmen')", 2,
            "sent[i] = 'salesmen'", "sent[i-1]"),
          (3, "array('what', 'i', CAST(NULL AS STRING))", 3,
            "sent[i-1] = 'what' AND sent[i] = 'i'", "sent[i+1]"),
          (4, "array(CAST(NULL AS STRING), CAST(NULL AS STRING))", 2, "true",
            "concat_ws(' ', sent[i-1], sent[i])"))
        val legs = cases.map { case (tag, pat, n, pred, proj) =>
          HiveQl.sql(s,
            s"""WITH ss AS (SELECT sentences(lower(contents)) AS sents FROM $tb),
               sketch AS (
                 SELECT context_ngrams(sents, $pat, 100, 1000) AS grams FROM ss),
               exact AS (
                 SELECT $proj AS gram
                 FROM (SELECT explode(sents) AS sent FROM ss) sentrows
                 LATERAL VIEW explode(slice(sequence(1, greatest(size(sent) - $n + 1, 1)),
                   1, greatest(size(sent) - $n + 1, 0))) t AS i
                 WHERE $pred),
               etop AS (
                 SELECT gram, count(1) AS f FROM exact GROUP BY gram
                 ORDER BY f DESC, gram LIMIT 100)
               SELECT $tag AS tag, size(grams) <= 100 AS capped,
                 array_sort(transform(grams, g ->
                   concat(concat_ws(' ', g.ngram), '#',
                          CAST(CAST(g.estfrequency AS BIGINT) AS STRING)))) =
                 (SELECT array_sort(collect_list(concat(gram, '#',
                     CAST(f AS STRING)))) FROM etop) AS exact_match
               FROM sketch""").localCheckpoint(true)
        }
        legs.reduce(_ union _).orderBy("tag")
      },
      Some("""SELECT * FROM (VALUES
          (0, true, true), (1, true, true), (2, true, true),
          (3, true, true), (4, true, true))
          v(tag, capped, exact_match) ORDER BY tag""")),

    // ---- clientpositive/udf_case.q (goldens 2 5 15 NULL 20 24; the final
    //      cell proves CASE short-circuits — the never-taken ELSE calls a
    //      nonexistent method whose lookup must be deferred to eval)
    QueryDef(
      "q482_qf_udf_case",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CASE 1 WHEN 1 THEN 2 WHEN 3 THEN 4 ELSE 5 END AS c1,
                    CASE 2 WHEN 1 THEN 2 ELSE 5 END AS c2,
                    CASE 14 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c3,
                    CASE 16 WHEN 12 THEN 13 WHEN 14 THEN 15 END AS c4,
                    CASE 17 WHEN 18 THEN NULL WHEN 17 THEN 20 END AS c5,
                    CASE 21 WHEN 22 THEN 23 WHEN 21 THEN 24 END AS c6,
                    CASE 1 WHEN 1 THEN 'yo'
                      ELSE reflect('java.lang.String', 'bogus', 1) END AS c7
             FROM src LIMIT 1""")
      },
      Some("""SELECT 2 AS c1, 5 AS c2, 15 AS c3, CAST(NULL AS INT) AS c4,
                     20 AS c5, 24 AS c6, 'yo' AS c7""")),

    // ---- clientpositive/udf_when.q (goldens 2 9 14 NULL 24 NULL)
    QueryDef(
      "q483_qf_udf_when",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CASE WHEN 1=1 THEN 2 WHEN 1=3 THEN 4 ELSE 5 END AS c1,
                    CASE WHEN 6=7 THEN 8 ELSE 9 END AS c2,
                    CASE WHEN 10=11 THEN 12 WHEN 13=13 THEN 14 END AS c3,
                    CASE WHEN 15=16 THEN 17 WHEN 18=19 THEN 20 END AS c4,
                    CASE WHEN 21=22 THEN NULL WHEN 23=23 THEN 24 END AS c5,
                    CASE WHEN 25=26 THEN 27 WHEN 28=28 THEN NULL END AS c6
             FROM src LIMIT 1""")
      },
      Some("""SELECT 2 AS c1, 9 AS c2, 14 AS c3, CAST(NULL AS INT) AS c4,
                     24 AS c5, CAST(NULL AS INT) AS c6""")),

    // ---- clientpositive/udf_field.q: the literal batteries plus the two
    //      kv1.txt tables (STRING and INT first columns — goldens prove
    //      field is TYPE-STRICT: field('66', 66, 88) = 0, no coercion)
    QueryDef(
      "q484_qf_udf_field",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val (t1, t2) = (s"field_tt_$sfx", s"field_tt1_$sfx")
        fresh(s, t1, t2)
        HiveQl.sql(s, s"CREATE TABLE $t1 (col1 STRING, col2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t1")
        HiveQl.sql(s, s"CREATE TABLE $t2 (col1 INT, col2 STRING) STORED AS TEXTFILE")
        HiveQl.sql(s, s"LOAD DATA LOCAL INPATH '$RefData/kv1.txt' INTO TABLE $t2")
        val lits = HiveQl.sql(s,
          """SELECT field("x", "a", "b", "c", "d") AS f1,
                    field(CAST(NULL AS STRING), "a", "b", "c", "d") AS f2,
                    field(0, 1, 2, 3, 4) AS f3,
                    field("a", "a", "b", "c", "d") AS f4,
                    field("b", "a", "b", "c", "d") AS f5,
                    field("c", "a", "b", "c", "d") AS f6,
                    field("d", "a", "b", "c", "d") AS f7,
                    field("d", "a", "b", CAST(NULL AS STRING), "d") AS f8,
                    field(1, 1, 2, 3, 4) AS f9,
                    field(2, 1, 2, 3, 4) AS f10,
                    field(3, 1, 2, 3, 4) AS f11,
                    field(4, 1, 2, 3, 4) AS f12,
                    field(4, 1, 2, CAST(NULL AS INT), 4) AS f13
             FROM src LIMIT 1""")
          .selectExpr("'lits' AS row_id",
            "concat_ws(',', f1, f2, f3, f4, f5, f6, f7, f8, f9, f10, f11, f12, f13) AS cells")
        val strTab = HiveQl.sql(s,
          s"""SELECT col1, col2,
                field("66", col1) AS f1, field("66", col1, col2) AS f2,
                field("val_86", col1, col2) AS f3,
                field(CAST(NULL AS STRING), col1, col2) AS f4,
                field(col1, 66, 88) AS f5, field(col1, "66", "88") AS f6,
                field(col1, "666", "888") AS f7, field(col2, "66", "88") AS f8,
                field(col1, col2, col1) AS f9, field(col1, col2, "66") AS f10
              FROM $t1 WHERE col1 = "86" OR col1 = "66" ORDER BY col1""")
          .selectExpr("concat('str_', col1) AS row_id",
            "concat_ws(',', col2, f1, f2, f3, f4, f5, f6, f7, f8, f9, f10) AS cells")
        val intTab = HiveQl.sql(s,
          s"""SELECT col1, col2,
                field(66, col1) AS f1, field(66, col1, col2) AS f2,
                field(86, col2, col1) AS f3, field(86, col1, col1) AS f4,
                field(86, col1, n, col2) AS f5,
                field(CAST(NULL AS INT), col1, n, col2) AS f6,
                field(col1, col2) AS f7
              FROM (SELECT col1, col2, CAST(NULL AS INT) AS n FROM $t2
                    WHERE col1 = 86 OR col1 = 66) t ORDER BY col1""")
          .selectExpr("concat('int_', CAST(col1 AS STRING)) AS row_id",
            "concat_ws(',', col2, f1, f2, f3, f4, f5, f6, f7) AS cells")
        lits.union(strTab).union(intTab).orderBy("row_id")
      },
      Some("""SELECT * FROM (VALUES
          ('int_66', 'val_66,1,1,0,0,0,0,0'),
          ('int_86', 'val_86,0,0,2,1,1,0,0'),
          ('lits', '0,0,0,1,2,3,4,4,1,2,3,4,4'),
          ('str_66', 'val_66,1,1,0,0,0,1,0,0,2,2'),
          ('str_86', 'val_86,0,0,2,0,0,0,0,0,2,0'))
          v(row_id, cells) ORDER BY row_id""")),

    // ---- clientpositive/udf_hash.q (goldens: Hive's Text/primitive
    //      hashCodes, hash(1,2,3) = 31·(31·1+2)+3 = 1026)
    QueryDef(
      "q485_qf_udf_hash",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT hash(CAST(1 AS TINYINT)) AS c1, hash(CAST(2 AS SMALLINT)) AS c2,
                    hash(3) AS c3, hash(CAST('123456789012' AS BIGINT)) AS c4,
                    hash(CAST(1.25 AS FLOAT)) AS c5, hash(CAST(16.0 AS DOUBLE)) AS c6,
                    hash('400') AS c7, hash('abc') AS c8, hash(TRUE) AS c9,
                    hash(FALSE) AS c10, hash(1, 2, 3) AS c11
             FROM src LIMIT 1""")
      },
      Some("""SELECT 1 AS c1, 2 AS c2, 3 AS c3, -1097262584 AS c4,
                     1067450368 AS c5, 1076887552 AS c6, 51508 AS c7,
                     96354 AS c8, 1 AS c9, 0 AS c10, 1026 AS c11""")),

    // ---- clientpositive/udf_div.q (3 DIV 2 = 1, integer division)
    QueryDef(
      "q486_qf_udf_div",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT CAST(3 DIV 2 AS BIGINT) AS c1 FROM src LIMIT 1")
      },
      Some("SELECT CAST(1 AS BIGINT) AS c1")),

    // ---- clientpositive/udf_divide.q (int / int is DOUBLE in Hive)
    QueryDef(
      "q487_qf_udf_divide",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s, "SELECT 3 / 2 AS c1 FROM src LIMIT 1")
      },
      Some("SELECT CAST(1.5 AS DOUBLE) AS c1")),

    // ---- clientpositive/udf_equal.q
    QueryDef(
      "q488_qf_udf_equal",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT true=false AS c1, false=true AS c2, false=false AS c3,
                    true=true AS c4, true==false AS c5, false==false AS c6
             FROM src LIMIT 1""")
      },
      Some("""SELECT false AS c1, false AS c2, true AS c3, true AS c4,
                     false AS c5, true AS c6""")),

    // ---- clientpositive/udf_greaterthan.q (true > false in Hive's
    //      boolean ordering)
    QueryDef(
      "q489_qf_udf_greaterthan",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT true>false AS c1, false>true AS c2, false>false AS c3,
                    true>true AS c4 FROM src LIMIT 1""")
      },
      Some("SELECT true AS c1, false AS c2, false AS c3, false AS c4")),

    // ---- clientpositive/udf_greaterthanorequal.q
    QueryDef(
      "q490_qf_udf_greaterthanorequal",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT true>=false AS c1, false>=true AS c2, false>=false AS c3,
                    true>=true AS c4 FROM src LIMIT 1""")
      },
      Some("SELECT true AS c1, false AS c2, true AS c3, true AS c4")),

    // ---- clientpositive/udf_lessthan.q
    QueryDef(
      "q491_qf_udf_lessthan",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT true<false AS c1, false<true AS c2, false<false AS c3,
                    true<true AS c4 FROM src LIMIT 1""")
      },
      Some("SELECT false AS c1, true AS c2, false AS c3, false AS c4")),

    // ---- clientpositive/udf_lessthanorequal.q
    QueryDef(
      "q492_qf_udf_lessthanorequal",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT true<=false AS c1, false<=true AS c2, false<=false AS c3,
                    true<=true AS c4 FROM src LIMIT 1""")
      },
      Some("SELECT false AS c1, true AS c2, true AS c3, true AS c4")),

    // ---- clientpositive/udf_like.q: escaped-wildcard battery (goldens
    //      true false true true false false false false true false false
    //      false — \% and \_ are literal matches, preserved through the
    //      SQL lexer exactly as Hive preserves them)
    QueryDef(
      "q493_qf_udf_like",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT '_%_' LIKE '%\_\%\_%' AS c1, '__' LIKE '%\_\%\_%' AS c2,
                    '%%_%_' LIKE '%\_\%\_%' AS c3, '%_%_%' LIKE '%\%\_\%' AS c4,
                    '_%_' LIKE '\%\_%' AS c5, '%__' LIKE '__\%%' AS c6,
                    '_%' LIKE '\_\%\_\%%' AS c7, '_%' LIKE '\_\%_%' AS c8,
                    '%_' LIKE '\%\_' AS c9, 'ab' LIKE '\%\_' AS c10,
                    'ab' LIKE '_a%' AS c11, 'ab' LIKE 'a' AS c12
             FROM src WHERE src.key = 100 LIMIT 1""")
      },
      Some("""SELECT true AS c1, false AS c2, true AS c3, true AS c4,
                     false AS c5, false AS c6, false AS c7, false AS c8,
                     true AS c9, false AS c10, false AS c11, false AS c12""")),

    // ---- clientpositive/udf_parse_url.q (goldens: HOST/PATH/QUERY/REF/
    //      keyed QUERY/FILE/PROTOCOL/USERINFO/AUTHORITY)
    QueryDef(
      "q494_qf_udf_parse_url",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'HOST') AS c1,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'PATH') AS c2,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'QUERY') AS c3,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'REF') AS c4,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'QUERY', 'k2') AS c5,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'QUERY', 'k1') AS c6,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'QUERY', 'k3') AS c7,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'FILE') AS c8,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'PROTOCOL') AS c9,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'USERINFO') AS c10,
                    parse_url('http://facebook.com/path1/p.php?k1=v1&k2=v2#Ref1', 'AUTHORITY') AS c11
             FROM src WHERE key = 100 LIMIT 1""")
      },
      Some("""SELECT 'facebook.com' AS c1, '/path1/p.php' AS c2,
                     'k1=v1&k2=v2' AS c3, 'Ref1' AS c4, 'v2' AS c5, 'v1' AS c6,
                     CAST(NULL AS VARCHAR) AS c7, '/path1/p.php?k1=v1&k2=v2' AS c8,
                     'http' AS c9, CAST(NULL AS VARCHAR) AS c10,
                     'facebook.com' AS c11""")),

    // ---- clientpositive/udf_reflect.q (Math.round(2.5) = 3, Java HALF_UP;
    //      new String().isEmpty() = true for the zero-arg instance call)
    QueryDef(
      "q495_qf_udf_reflect",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT reflect("java.lang.String", "valueOf", 1) AS c1,
                    CAST(reflect("java.lang.String", "isEmpty") AS BOOLEAN) AS c2,
                    CAST(reflect("java.lang.Math", "max", 2, 3) AS INT) AS c3,
                    CAST(reflect("java.lang.Math", "min", 2, 3) AS INT) AS c4,
                    CAST(reflect("java.lang.Math", "round", CAST(2.5 AS DOUBLE)) AS BIGINT) AS c5,
                    CAST(reflect("java.lang.Math", "exp", CAST(1.0 AS DOUBLE)) AS DOUBLE) AS c6,
                    CAST(reflect("java.lang.Math", "floor", CAST(1.9 AS DOUBLE)) AS DOUBLE) AS c7
             FROM src LIMIT 1""")
      },
      Some("""SELECT '1' AS c1, true AS c2, 3 AS c3, 2 AS c4,
                     CAST(3 AS BIGINT) AS c5, exp(1.0) AS c6,
                     CAST(1.0 AS DOUBLE) AS c7""")),

    // ---- clientpositive/udf_E.q (repeated select + describe legs)
    QueryDef(
      "q496_qf_udf_e_const",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT E() AS c1, E() AS c2 FROM src LIMIT 1")
      },
      Some("SELECT exp(1.0) AS c1, exp(1.0) AS c2")),

    // ---- clientpositive/udf_PI.q
    QueryDef(
      "q497_qf_udf_pi_const",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          "SELECT PI() AS c1, PI() AS c2 FROM src LIMIT 1")
      },
      Some("SELECT pi() AS c1, pi() AS c2")),

    // ---- clientpositive/udf_xpath.q (array results flattened to csv;
    //      goldens [], [b1..c2], [b1,b2,b3], [c1,c2], [b1,c1])
    QueryDef(
      "q498_qf_udf_xpath",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT concat_ws(',', xpath('<a><b>b1</b><b>b2</b><b>b3</b><c>c1</c><c>c2</c></a>', 'a/text()')) AS c1,
                    concat_ws(',', xpath('<a><b>b1</b><b>b2</b><b>b3</b><c>c1</c><c>c2</c></a>', 'a/*/text()')) AS c2,
                    concat_ws(',', xpath('<a><b>b1</b><b>b2</b><b>b3</b><c>c1</c><c>c2</c></a>', 'a/b/text()')) AS c3,
                    concat_ws(',', xpath('<a><b>b1</b><b>b2</b><b>b3</b><c>c1</c><c>c2</c></a>', 'a/c/text()')) AS c4,
                    concat_ws(',', xpath('<a><b class="bb">b1</b><b>b2</b><b>b3</b><c class="bb">c1</c><c>c2</c></a>', 'a/*[@class="bb"]/text()')) AS c5
             FROM src LIMIT 1""")
      },
      Some("""SELECT '' AS c1, 'b1,b2,b3,c1,c2' AS c2, 'b1,b2,b3' AS c3,
                     'c1,c2' AS c4, 'b1,c1' AS c5""")),

    // ---- clientpositive/udf_xpath_boolean.q
    QueryDef(
      "q499_qf_udf_xpath_boolean",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT xpath_boolean('<a><b>b</b></a>', 'a/b') AS c1,
                    xpath_boolean('<a><b>b</b></a>', 'a/c') AS c2,
                    xpath_boolean('<a><b>b</b></a>', 'a/b = "b"') AS c3,
                    xpath_boolean('<a><b>b</b></a>', 'a/b = "c"') AS c4,
                    xpath_boolean('<a><b>10</b></a>', 'a/b < 10') AS c5,
                    xpath_boolean('<a><b>10</b></a>', 'a/b = 10') AS c6
             FROM src LIMIT 1""")
      },
      Some("""SELECT true AS c1, false AS c2, true AS c3, false AS c4,
                     false AS c5, true AS c6""")),

    // ---- clientpositive/udf_xpath_double.q (non-numeric text is NaN —
    //      stringified so the NaN cells compare; 2e9 * 4e10 = 8.0E19)
    QueryDef(
      "q500_qf_udf_xpath_double",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CAST(xpath_double('<a>this is not a number</a>', 'a') AS STRING) AS c1,
                    CAST(xpath_double('<a>this 2 is not a number</a>', 'a') AS STRING) AS c2,
                    xpath_double('<a><b>2000000000</b><c>40000000000</c></a>', 'a/b * a/c') AS c3,
                    xpath_double('<a>try a boolean</a>', 'a = 10') AS c4,
                    xpath_double('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'a/b') AS c5,
                    xpath_double('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/*)') AS c6,
                    xpath_double('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b)') AS c7,
                    xpath_double('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b[@class="odd"])') AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT 'NaN' AS c1, 'NaN' AS c2, CAST(8.0E19 AS DOUBLE) AS c3,
                     CAST(0.0 AS DOUBLE) AS c4, CAST(1.0 AS DOUBLE) AS c5,
                     CAST(15.0 AS DOUBLE) AS c6, CAST(7.0 AS DOUBLE) AS c7,
                     CAST(5.0 AS DOUBLE) AS c8""")),

    // ---- clientpositive/udf_xpath_float.q (same battery at float width)
    QueryDef(
      "q501_qf_udf_xpath_float",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CAST(xpath_float('<a>this is not a number</a>', 'a') AS STRING) AS c1,
                    CAST(xpath_float('<a>this 2 is not a number</a>', 'a') AS STRING) AS c2,
                    CAST(xpath_float('<a><b>2000000000</b><c>40000000000</c></a>', 'a/b * a/c') AS DOUBLE) AS c3,
                    CAST(xpath_float('<a>try a boolean</a>', 'a = 10') AS DOUBLE) AS c4,
                    CAST(xpath_float('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'a/b') AS DOUBLE) AS c5,
                    CAST(xpath_float('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/*)') AS DOUBLE) AS c6,
                    CAST(xpath_float('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b)') AS DOUBLE) AS c7,
                    CAST(xpath_float('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b[@class="odd"])') AS DOUBLE) AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT 'NaN' AS c1, 'NaN' AS c2,
                     CAST(CAST(8.0E19 AS REAL) AS DOUBLE) AS c3,
                     CAST(0.0 AS DOUBLE) AS c4, CAST(1.0 AS DOUBLE) AS c5,
                     CAST(15.0 AS DOUBLE) AS c6, CAST(7.0 AS DOUBLE) AS c7,
                     CAST(5.0 AS DOUBLE) AS c8""")),

    // ---- clientpositive/udf_xpath_int.q (NaN→0, overflow saturates to
    //      Integer.MAX_VALUE — the reference's double→int cast)
    QueryDef(
      "q502_qf_udf_xpath_int",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT xpath_int('<a>this is not a number</a>', 'a') AS c1,
                    xpath_int('<a>this 2 is not a number</a>', 'a') AS c2,
                    xpath_int('<a><b>2000000000</b><c>40000000000</c></a>', 'a/b * a/c') AS c3,
                    xpath_int('<a>try a boolean</a>', 'a = 10') AS c4,
                    xpath_int('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'a/b') AS c5,
                    xpath_int('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/*)') AS c6,
                    xpath_int('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b)') AS c7,
                    xpath_int('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b[@class="odd"])') AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT 0 AS c1, 0 AS c2, 2147483647 AS c3, 0 AS c4, 1 AS c5,
                     15 AS c6, 7 AS c7, 5 AS c8""")),

    // ---- clientpositive/udf_xpath_long.q (saturates to Long.MAX_VALUE)
    QueryDef(
      "q503_qf_udf_xpath_long",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT xpath_long('<a>this is not a number</a>', 'a') AS c1,
                    xpath_long('<a>this 2 is not a number</a>', 'a') AS c2,
                    xpath_long('<a><b>2000000000</b><c>40000000000</c></a>', 'a/b * a/c') AS c3,
                    xpath_long('<a>try a boolean</a>', 'a = 10') AS c4,
                    xpath_long('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'a/b') AS c5,
                    xpath_long('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/*)') AS c6,
                    xpath_long('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b)') AS c7,
                    xpath_long('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b[@class="odd"])') AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT CAST(0 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2,
                     CAST(9223372036854775807 AS BIGINT) AS c3,
                     CAST(0 AS BIGINT) AS c4, CAST(1 AS BIGINT) AS c5,
                     CAST(15 AS BIGINT) AS c6, CAST(7 AS BIGINT) AS c7,
                     CAST(5 AS BIGINT) AS c8""")),

    // ---- clientpositive/udf_xpath_short.q (Java narrowing: the saturated
    //      int truncates to short -1)
    QueryDef(
      "q504_qf_udf_xpath_short",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT CAST(xpath_short('<a>this is not a number</a>', 'a') AS INT) AS c1,
                    CAST(xpath_short('<a>this 2 is not a number</a>', 'a') AS INT) AS c2,
                    CAST(xpath_short('<a><b>2000000000</b><c>40000000000</c></a>', 'a/b * a/c') AS INT) AS c3,
                    CAST(xpath_short('<a>try a boolean</a>', 'a = 10') AS INT) AS c4,
                    CAST(xpath_short('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'a/b') AS INT) AS c5,
                    CAST(xpath_short('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/*)') AS INT) AS c6,
                    CAST(xpath_short('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b)') AS INT) AS c7,
                    CAST(xpath_short('<a><b class="odd">1</b><b class="even">2</b><b class="odd">4</b><c>8</c></a>', 'sum(a/b[@class="odd"])') AS INT) AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT 0 AS c1, 0 AS c2, -1 AS c3, 0 AS c4, 1 AS c5,
                     15 AS c6, 7 AS c7, 5 AS c8""")),

    // ---- clientpositive/udf_xpath_string.q (missing node is the EMPTY
    //      string, not NULL)
    QueryDef(
      "q505_qf_udf_xpath_string",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT xpath_string('<a><b>bb</b><c>cc</c></a>', 'a') AS c1,
                    xpath_string('<a><b>bb</b><c>cc</c></a>', 'a/b') AS c2,
                    xpath_string('<a><b>bb</b><c>cc</c></a>', 'a/c') AS c3,
                    xpath_string('<a><b>bb</b><c>cc</c></a>', 'a/d') AS c4,
                    xpath_string('<a><b>b1</b><b>b2</b></a>', '//b') AS c5,
                    xpath_string('<a><b>b1</b><b>b2</b></a>', 'a/b[1]') AS c6,
                    xpath_string('<a><b>b1</b><b>b2</b></a>', 'a/b[2]') AS c7,
                    xpath_string('<a><b>b1</b><b id="b_2">b2</b></a>', 'a/b[@id="b_2"]') AS c8
             FROM src LIMIT 1""")
      },
      Some("""SELECT 'bbcc' AS c1, 'bb' AS c2, 'cc' AS c3, '' AS c4,
                     'b1' AS c5, 'b1' AS c6, 'b2' AS c7, 'b2' AS c8""")),

    // ---- clientpositive/udf_bitmap_and.q (EWAH word-array AND, literal
    //      and table forms; goldens [13,1,4,2,0])
    QueryDef(
      "q506_qf_udf_bitmap_and",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tb = s"bitmap_test_$sfx"
        fresh(s, tb)
        HiveQl.sql(s, s"CREATE TABLE $tb (a ARRAY<BIGINT>, b ARRAY<BIGINT>)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $tb
              SELECT array(13L,2L,4L,8589934592L,4096L,0L),
                     array(8L,2L,4L,8589934592L,128L,0L) FROM src LIMIT 10""")
        val lits = HiveQl.sql(s,
          """(SELECT 0 AS rid,
                    concat_ws(',', transform(ewah_bitmap_and(array(13L,2L,4L,8589934592L,4096L,0L), array(13L,2L,4L,8589934592L,4096L,0L)), x -> CAST(x AS STRING))) AS v
             FROM src LIMIT 1)
             UNION ALL
             (SELECT 1 AS rid,
                    concat_ws(',', transform(ewah_bitmap_and(array(13L,2L,4L,8589934592L,4096L,0L), array(8L,2L,4L,8589934592L,128L,0L)), x -> CAST(x AS STRING))) AS v
             FROM src LIMIT 1)""")
        val tab = HiveQl.sql(s,
          s"""SELECT 2 AS rid,
                concat_ws(',', transform(ewah_bitmap_and(a, b), x -> CAST(x AS STRING))) AS v
              FROM $tb""")
        lits.union(tab).orderBy("rid", "v")
      },
      Some("""SELECT * FROM (
          SELECT 0 AS rid, '13,2,4,8589934592,4096,0' AS v
          UNION ALL SELECT 1, '13,1,4,2,0'
          UNION ALL SELECT 2, '13,1,4,2,0' FROM range(10))
          ORDER BY rid, v""")),

    // ---- clientpositive/udf_bitmap_or.q (goldens [13,2,4,8589934592,4224,0])
    QueryDef(
      "q507_qf_udf_bitmap_or",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tb = s"bitmap_test_or_$sfx"
        fresh(s, tb)
        HiveQl.sql(s, s"CREATE TABLE $tb (a ARRAY<BIGINT>, b ARRAY<BIGINT>)")
        HiveQl.sql(s,
          s"""INSERT OVERWRITE TABLE $tb
              SELECT array(13L,2L,4L,8589934592L,4096L,0L),
                     array(8L,2L,4L,8589934592L,128L,0L) FROM src LIMIT 10""")
        val lits = HiveQl.sql(s,
          """(SELECT 0 AS rid,
                    concat_ws(',', transform(ewah_bitmap_or(array(13L,2L,4L,8589934592L,4096L,0L), array(13L,2L,4L,8589934592L,4096L,0L)), x -> CAST(x AS STRING))) AS v
             FROM src LIMIT 1)
             UNION ALL
             (SELECT 1 AS rid,
                    concat_ws(',', transform(ewah_bitmap_or(array(13L,2L,4L,8589934592L,4096L,0L), array(8L,2L,4L,8589934592L,128L,0L)), x -> CAST(x AS STRING))) AS v
             FROM src LIMIT 1)""")
        val tab = HiveQl.sql(s,
          s"""SELECT 2 AS rid,
                concat_ws(',', transform(ewah_bitmap_or(a, b), x -> CAST(x AS STRING))) AS v
              FROM $tb""")
        lits.union(tab).orderBy("rid", "v")
      },
      Some("""SELECT * FROM (
          SELECT 0 AS rid, '13,2,4,8589934592,4096,0' AS v
          UNION ALL SELECT 1, '13,2,4,8589934592,4224,0'
          UNION ALL SELECT 2, '13,2,4,8589934592,4224,0' FROM range(10))
          ORDER BY rid, v""")),

    // ---- clientpositive/udf_get_json_object.q over the reference's
    //      json.txt row. The whole-document and store-object legs are
    //      probed for CONTENT (get_json_object back into the result)
    //      rather than transcribed: the reference's goldens carry a
    //      key-REORDER artifact of its era JSON library (store.fruit
    //      hoisted before book), which is serialization, not semantics.
    QueryDef(
      "q508_qf_udf_get_json_object",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tb = s"src_json_$sfx"
        fresh(s, tb)
        HiveQl.sql(s, s"CREATE TABLE $tb (json STRING) STORED AS TEXTFILE")
        HiveQl.sql(s,
          s"LOAD DATA LOCAL INPATH '$RefData/json.txt' INTO TABLE $tb")
        HiveQl.sql(s,
          s"""SELECT get_json_object(json, '$$.owner') AS c1,
                get_json_object(get_json_object(json, '$$'), '$$.owner') AS c2,
                get_json_object(get_json_object(json, '$$.store.bicycle'), '$$.price') AS c3,
                get_json_object(get_json_object(json, '$$.store.book[0]'), '$$.category') AS c4,
                get_json_object(json, '$$.store.book[*].category') AS c5,
                get_json_object(json, '$$.store.book[*].isbn') AS c6,
                get_json_object(json, '$$.store.book[*].reader[0].age') AS c7,
                get_json_object(json, '$$.store.book[*].reader[*].age') AS c8,
                get_json_object(json, '$$.store.basket[0][1]') AS c9,
                get_json_object(json, '$$.store.basket[*][0]') AS c10,
                get_json_object(json, '$$.store.basket[0][2].b') AS c11,
                get_json_object(json, '$$.store.basket[0][*].b') AS c12,
                get_json_object(json, '$$.non_exist_key') AS c13,
                get_json_object(json, '$$..no_recursive') AS c14,
                get_json_object(json, '$$.store.book[10]') AS c15,
                get_json_object(json, '$$.store.book[0].non_exist_key') AS c16
              FROM $tb""")
      },
      Some("""SELECT 'amy' AS c1, 'amy' AS c2, '19.95' AS c3,
                     'reference' AS c4,
                     '["reference","fiction","fiction"]' AS c5,
                     '["0-553-21311-3","0-395-19395-8"]' AS c6,
                     '25' AS c7, '[25,26]' AS c8, '2' AS c9,
                     '[1,3,5]' AS c10, 'y' AS c11, '["y"]' AS c12,
                     CAST(NULL AS VARCHAR) AS c13, CAST(NULL AS VARCHAR) AS c14,
                     CAST(NULL AS VARCHAR) AS c15, CAST(NULL AS VARCHAR) AS c16""")),

    // ---- clientpositive/udf_sentences.q: BreakIterator splitting under
    //      fr/de/en locales, transcribed from the goldens (one copy per
    //      language — the .q's `FROM src LIMIT 3` triplication is a fetch
    //      artifact, not sentences() semantics)
    QueryDef(
      "q509_qf_udf_sentences",
      (s, dir) => {
        fixtures(s, dir)
        HiveQl.sql(s,
          """SELECT lang, pos AS si, concat_ws(' ', sent) AS words FROM (
               SELECT 'fr' AS lang, posexplode(sentences(unhex('486976652065737420756E20657863656C6C656E74206F7574696C20706F7572206C65732072657175C3AA74657320646520646F6E6EC3A965732C20657420706575742DC3AA74726520706C757320706F6C7976616C656E7420717565206C612074726164756374696F6E206175746F6D61746971756521206C6120706F6E6374756174696F6E206D756C7469706C65732C206465732070687261736573206D616C20666F726DC3A96573202E2E2E20636F6E667573696F6E202D20657420706F757274616E742063652055444620666F6E6374696F6E6E6520656E636F72652121'), 'fr')) AS (pos, sent)
               UNION ALL
               SELECT 'de' AS lang, posexplode(sentences(unhex('48697665206973742065696E2061757367657A656963686E65746573205765726B7A6575672066C3BC7220646965204162667261676520766F6E20446174656E2C20756E64207669656C6C6569636874207669656C736569746967657220616C7320646965206D61736368696E656C6C6520C39C6265727365747A756E6721204D756C7469706C652C207363686C6563687420676562696C646574656E2053C3A4747A65202E2E2E205665727765636873656C756E6720496E74657270756E6B74696F6E202D20756E6420646F636820697374206469657365205544462066756E6B74696F6E6965727420696D6D6572206E6F63682121'), 'de')) AS (pos, sent)
               UNION ALL
               SELECT 'en' AS lang, posexplode(sentences("Hive is an excellent tool for data querying\; and perhaps more versatile than machine translation!! Multiple, ill-formed sentences...confounding punctuation--and yet this UDF still works!!!!")) AS (pos, sent)
             ) t ORDER BY lang, si""")
      },
      Some("""SELECT * FROM (VALUES
          ('de', 0, 'Hive ist ein ausgezeichnetes Werkzeug für die Abfrage von Daten und vielleicht vielseitiger als die maschinelle Übersetzung'),
          ('de', 1, 'Multiple schlecht gebildeten Sätze'),
          ('de', 2, 'Verwechselung Interpunktion und doch ist diese UDF funktioniert immer noch'),
          ('en', 0, 'Hive is an excellent tool for data querying and perhaps more versatile than machine translation'),
          ('en', 1, 'Multiple ill-formed sentences confounding punctuation and yet this UDF still works'),
          ('fr', 0, 'Hive est un excellent outil pour les requêtes de données et peut-être plus polyvalent que la traduction automatique'),
          ('fr', 1, 'la ponctuation multiples des phrases mal formées confusion et pourtant ce UDF fonctionne encore'))
          v(lang, si, words) ORDER BY lang, si""")),

    // ---- clientpositive/udf_case_column_pruning.q: CASE over a join key
    //      must not widen the scan — pinned IN-QUERY on a real parquet
    //      table (the .q's EXPLAIN golden asserts src reads only `key`)
    QueryDef(
      "q510_qf_udf_case_column_pruning",
      (s, dir) => {
        val sfx = fixtures(s, dir)
        val tb = s"case_cp_$sfx"
        fresh(s, tb)
        HiveQl.sql(s, s"CREATE TABLE $tb AS SELECT key, value FROM src")
        val df = HiveQl.sql(s,
          s"""SELECT CASE a.key WHEN '1' THEN 2 WHEN '3' THEN 4 ELSE 5 END AS k
              FROM $tb a JOIN $tb b ON a.key = b.key
              ORDER BY k LIMIT 10""")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("ReadSchema: struct<key:string>"),
          s"case_column_pruning: join scans must prune to key:\n$plan")
        require(!plan.contains("value:string"),
          s"case_column_pruning: a scan still reads value:\n$plan")
        df
      },
      Some(s"""$SrcCte
        SELECT CASE src.key WHEN '1' THEN 2 WHEN '3' THEN 4 ELSE 5 END AS k
        FROM src JOIN src b ON src.key = b.key
        ORDER BY k LIMIT 10"""))
  )
}
