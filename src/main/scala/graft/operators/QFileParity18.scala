package graft.operators

import graft.{HiveQl, QueryDef, QueryModule}

/** Parity battery, tranche file 18 (round 13): the DESCRIBE FUNCTION
  * singles — each .q is `DESCRIBE FUNCTION x; DESCRIBE FUNCTION EXTENDED
  * x;` over one registry name (FunctionRegistry.java:223-436), swept here
  * as one battery that resolves every described name through the engine's
  * registry and pins which ones exist. Covered .q files:
  * clientpositive/udf_add.q clientpositive/udf_avg.q
  * clientpositive/udf_bigint.q clientpositive/udf_bitwise_and.q
  * clientpositive/udf_bitwise_not.q clientpositive/udf_bitwise_or.q
  * clientpositive/udf_bitwise_xor.q clientpositive/udf_boolean.q
  * clientpositive/udf_ceil.q clientpositive/udf_ceiling.q
  * clientpositive/udf_date_add.q clientpositive/udf_date_sub.q
  * clientpositive/udf_datediff.q clientpositive/udf_day.q
  * clientpositive/udf_dayofmonth.q clientpositive/udf_double.q
  * clientpositive/udf_exp.q clientpositive/udf_float.q
  * clientpositive/udf_floor.q clientpositive/udf_from_unixtime.q
  * clientpositive/udf_index.q clientpositive/udf_int.q
  * clientpositive/udf_isnotnull.q clientpositive/udf_isnull.q
  * clientpositive/udf_lcase.q clientpositive/udf_ln.q
  * clientpositive/udf_log.q clientpositive/udf_log10.q
  * clientpositive/udf_log2.q clientpositive/udf_ltrim.q
  * clientpositive/udf_modulo.q clientpositive/udf_month.q
  * clientpositive/udf_not.q clientpositive/udf_or.q
  * clientpositive/udf_positive.q clientpositive/udf_pow.q
  * clientpositive/udf_power.q clientpositive/udf_rand.q
  * clientpositive/udf_regexp_extract.q clientpositive/udf_regexp_replace.q
  * clientpositive/udf_rlike.q clientpositive/udf_rtrim.q
  * clientpositive/udf_smallint.q clientpositive/udf_sqrt.q
  * clientpositive/udf_std.q clientpositive/udf_stddev.q
  * clientpositive/udf_stddev_pop.q clientpositive/udf_stddev_samp.q
  * clientpositive/udf_string.q clientpositive/udf_substring.q
  * clientpositive/udf_subtract.q clientpositive/udf_sum.q
  * clientpositive/udf_tinyint.q clientpositive/udf_to_date.q
  * clientpositive/udf_trim.q clientpositive/udf_ucase.q
  * clientpositive/udf_upper.q clientpositive/udf_var_pop.q
  * clientpositive/udf_var_samp.q clientpositive/udf_variance.q.
  * ZERO-BYTE in the reference (vacuously covered, nothing to run):
  * clientpositive/udaf_avg.q clientpositive/udaf_count.q
  * clientpositive/udaf_max.q clientpositive/udaf_min.q
  * clientpositive/udaf_std.q clientpositive/udaf_stddev_samp.q
  * clientpositive/udaf_sum.q clientpositive/udaf_var_samp.q
  * clientpositive/udaf_variance.q clientpositive/udf_divider.q
  * clientpositive/udf_hour_minute_second.q clientpositive/udf_json.q
  * clientpositive/udf_lpad_rpad.q.
  * udf_stddev_pop.q describes the NAME "udf_stddev_pop" — the reference
  * answers "does not exist" (its golden), pinned as status=missing.
  * Plus clientpositive/udf_max.q's max(struct(...)) battery under the four
  * map.aggr × skewindata conf combos.
  */
object QFileParity18 extends QueryModule {

  import QFileParity.{fixtures, SrcCte}

  /** Every name the describe-only .q files describe, in one sweep. */
  private val Described: Seq[String] = Seq(
    "+", "avg", "bigint", "&", "~", "|", "^", "boolean", "ceil", "ceiling",
    "date_add", "date_sub", "datediff", "day", "dayofmonth", "double",
    "exp", "float", "floor", "from_unixtime", "`index`", "int", "isnotnull",
    "isnull", "lcase", "ln", "log", "log10", "log2", "ltrim", "%", "minute",
    "month", "not", "!", "or", "positive", "pow", "power", "rand",
    "regexp_extract", "regexp_replace", "rlike", "rtrim", "smallint",
    "sqrt", "std", "stddev", "stddev_samp", "string", "substring", "-",
    "sum", "tinyint", "to_date", "trim", "ucase", "upper", "var_pop",
    "var_samp", "variance", "max", "udf_stddev_pop")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q701_qf_udf_describe_battery",
      (s, dir) => {
        import s.implicits._
        fixtures(s, dir)
        val rows = Described.map { fn =>
          val quoted = if (fn.matches("[A-Za-z_][\\w]*|`.*`")) fn else s"`$fn`"
          val status =
            try {
              val out = HiveQl.sql(s, s"DESCRIBE FUNCTION EXTENDED $quoted")
                .collect().map(_.getString(0)).mkString("\n")
              if (out.contains("not found") || out.contains("does not exist"))
                "missing"
              else "known"
            } catch { case _: Exception => "missing" }
          (fn.replace("`", ""), status)
        }
        rows.toDF("fn", "status").orderBy("fn", "status")
      },
      Some {
        val rows = Described.map { fn =>
          val bare = fn.replace("`", "")
          val st = if (bare == "udf_stddev_pop") "missing" else "known"
          s"('${bare.replace("'", "''")}', '$st')"
        }.mkString(",")
        s"""SELECT fn, status FROM (VALUES $rows) v(fn, status)
            ORDER BY fn, status"""
      }),

    // ---- clientpositive/udf_max.q: max over STRUCT operands (field-wise
    //      lexicographic order) under all four map.aggr × skewindata
    //      combos — identical values each time; structs JSON-stringified
    //      (the gate cannot hash nested cells)
    QueryDef(
      "q702_qf_udf_max",
      (s, dir) => {
        fixtures(s, dir)
        val combos = Seq(("false", "false"), ("true", "false"),
          ("false", "true"), ("true", "true"))
        val legs = combos.zipWithIndex.map { case ((aggr, skew), i) =>
          HiveQl.sql(s, s"set hive.map.aggr = $aggr")
          HiveQl.sql(s, s"set hive.groupby.skewindata = $skew")
          HiveQl.sql(s,
            s"""SELECT $i as sec,
                to_json(max(struct(CAST(key as INT), value))) as m1,
                to_json(max(struct(key, value))) as m2
              FROM src""").localCheckpoint(true)
        }
        legs.reduce(_ union _).orderBy("sec")
      },
      Some(s"""$SrcCte,
          m1 AS (SELECT CAST(key AS INT) AS col1, value AS col2 FROM src
                 ORDER BY col1 DESC, col2 DESC LIMIT 1),
          m2 AS (SELECT key, value FROM src ORDER BY key DESC, value DESC LIMIT 1),
          j AS (SELECT
            to_json(struct_pack(col1 := (SELECT col1 FROM m1),
                                value := (SELECT col2 FROM m1)))::VARCHAR AS m1,
            to_json(struct_pack(key := (SELECT key FROM m2),
                                value := (SELECT value FROM m2)))::VARCHAR AS m2)
          SELECT sec, m1, m2 FROM (VALUES (0),(1),(2),(3)) v(sec), j
          ORDER BY sec"""))
  )
}
