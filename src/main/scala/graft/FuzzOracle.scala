package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Oracle-differential fuzzing (VERDICT r16 #3): FuzzParitySpec's
  * differential leg compares `HiveQl.sql` against `HiveQl.native` on the
  * SAME engine, so a Hive-semantics divergence both share is invisible to
  * it. This generator aims the fuzz at the DuckDB oracle instead: seeded
  * random statements in the HIVE dialect exercising the compat shims —
  * string↔numeric comparison coercion (FunctionRegistry.java:1121-1190,
  * the riskiest surface), string SUM (HiveStringSum), RLIKE
  * empty-pattern=false, `/` vs `DIV`, timestamp→int narrowing, mixed-type
  * IF/IN coercion, and the date/string function batteries — each paired
  * with a hand-translated ANSI equivalent for DuckDB.
  *
  * Output layout matches graft.Verify exactly (`<out>/<name>/` parquet +
  * `oracle_sql.json`), so `tools/check.py <sfDir> <out>` is the comparator
  * — the same gate the driver runs. Every case is a single-row aggregate
  * (count + rounded checksum), which sidesteps row-ordering entirely and
  * turns each predicate/expression divergence into a cardinality or
  * checksum mismatch.
  *
  * Determinism: one pinned seed (20260817) is the committed battery;
  * FuzzOracleSpec re-runs it per round. Usage:
  * runMain graft.FuzzOracle <sfDir> <outDir> [seed] [nPerFamily]
  */
object FuzzOracle {

  /** One differential case: Hive-dialect text for the engine, ANSI text
    * for DuckDB. Column names are aligned by construction.
    */
  final case class Case(name: String, hive: String, ansi: String)

  // column pools (fixture schema, TESTDATA.md)
  private val liNum = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val liDbl = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val liStr = Seq("l_returnflag", "l_linestatus")
  private val pStr = Seq("p_name", "p_brand", "p_type")

  def cases(seed: Long, nPerFamily: Int): Seq[Case] = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val out = Seq.newBuilder[Case]
    var i = 0
    def add(tag: String, hive: String, ansi: String): Unit = {
      i += 1
      out += Case(f"fz$i%03d_$tag", hive, ansi)
    }

    // 1) string↔numeric comparison coercion: Hive compares a numeric-
    //    looking STRING against a number by coercing BOTH to double
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liNum)
      val k = rnd.nextInt(2000) + 1
      val op = pick(Seq("=", "<", ">", "<=", ">=", "<>"))
      add("strnumcmp",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem " +
          s"WHERE CAST($c AS STRING) $op $k",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem " +
          s"WHERE CAST(CAST($c AS VARCHAR) AS DOUBLE) $op $k")
    }

    // 2) SUM over a STRING column (Hive coerces to double; string_sum.q)
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liDbl :+ "l_orderkey")
      val k = rnd.nextInt(5000) + 500
      add("strsum",
        s"SELECT round(sum(CAST($c AS STRING)), 2) AS s, " +
          s"CAST(count(*) AS BIGINT) AS n FROM lineitem WHERE l_orderkey <= $k",
        s"SELECT round(sum(CAST(CAST($c AS VARCHAR) AS DOUBLE)), 2) AS s, " +
          s"CAST(count(*) AS BIGINT) AS n FROM lineitem WHERE l_orderkey <= $k")
    }

    // 3) RLIKE battery incl. the empty pattern (Hive: '' matches NOTHING —
    //    plans/HiveRegexpSemantics; DuckDB regexp_matches('') matches all)
    (1 to nPerFamily).foreach { _ =>
      val c = pick(pStr)
      val pat = pick(Seq("", "^[A-Z]", "[aeiou]{2}", "e.*e", "ir", "o[nl]", "[0-9]$"))
      val ansiPred =
        if (pat.isEmpty) "FALSE"
        else s"regexp_matches($c, '$pat')"
      add("rlike",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM part WHERE $c RLIKE '$pat'",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM part WHERE $ansiPred")
    }

    // 4) `/` is always double division in Hive; DIV is integral
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liNum)
      val k = rnd.nextInt(7) + 2
      val lim = rnd.nextInt(3000) + 100
      add("division",
        s"SELECT round(sum($c / $k), 2) AS s, " +
          s"CAST(sum($c DIV $k) AS BIGINT) AS d FROM lineitem WHERE l_orderkey <= $lim",
        s"SELECT round(sum($c / $k), 2) AS s, " +
          s"CAST(sum($c // $k) AS BIGINT) AS d FROM lineitem WHERE l_orderkey <= $lim")
    }

    // 5) timestamp→int narrowing (epoch seconds; HiveTimestampNarrowing)
    (1 to nPerFamily).foreach { _ =>
      val lim = rnd.nextInt(2000) + 100
      add("tsnarrow",
        s"SELECT CAST(sum(CAST(CAST(l_shipdate AS INT) AS BIGINT)) AS BIGINT) AS s " +
          s"FROM lineitem WHERE l_orderkey <= $lim",
        s"SELECT CAST(sum(CAST(epoch(l_shipdate) AS BIGINT)) AS BIGINT) AS s " +
          s"FROM lineitem WHERE l_orderkey <= $lim")
    }

    // 6) mixed-type IF / CASE coercion (int branch + double branch → double)
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liNum)
      val k = rnd.nextInt(5) + 2
      val (a, b) = (rnd.nextInt(9) + 1, (rnd.nextInt(90) + 5) / 10.0)
      val lim = rnd.nextInt(3000) + 100
      add("ifcoerce",
        s"SELECT round(sum(IF($c % $k = 0, $a, $b)), 2) AS s " +
          s"FROM lineitem WHERE l_orderkey <= $lim",
        // CAST to DOUBLE: DuckDB's decimal literal would make the sum
        // DECIMAL(38,1), a driver-unsafe oracle type (tools/check.py)
        s"SELECT round(CAST(sum(CASE WHEN $c % $k = 0 THEN $a ELSE $b END) AS DOUBLE), 2) AS s " +
          s"FROM lineitem WHERE l_orderkey <= $lim")
    }

    // 7) IN with mixed string/number literals (Hive coerces to double)
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liNum)
      val vals = Seq.fill(4)(rnd.nextInt(300) + 1).distinct
      val hiveList = vals.zipWithIndex
        .map { case (v, j) => if (j % 2 == 0) s"'$v'" else v.toString }
        .mkString(", ")
      add("inmixed",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem WHERE $c IN ($hiveList)",
        s"SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem " +
          s"WHERE $c IN (${vals.mkString(", ")})")
    }

    // 8) date battery: datediff / year / month / day over the fixture range
    (1 to nPerFamily).foreach { _ =>
      val y = 1995 + rnd.nextInt(3)
      val m = rnd.nextInt(12) + 1
      val anchor = f"$y%04d-$m%02d-15"
      val lim = rnd.nextInt(2000) + 100
      add("datefns",
        s"SELECT CAST(sum(CAST(datediff(l_shipdate, '$anchor') AS BIGINT)) AS BIGINT) AS dd, " +
          s"CAST(sum(year(l_shipdate) * 100 + month(l_shipdate)) AS BIGINT) AS ym " +
          s"FROM lineitem WHERE l_orderkey <= $lim",
        s"SELECT CAST(sum(date_diff('day', DATE '$anchor', CAST(l_shipdate AS DATE))) AS BIGINT) AS dd, " +
          s"CAST(sum(year(l_shipdate) * 100 + month(l_shipdate)) AS BIGINT) AS ym " +
          s"FROM lineitem WHERE l_orderkey <= $lim")
    }

    // 9) string battery: instr/locate (→ strpos), translate, substr, length
    (1 to nPerFamily).foreach { _ =>
      val c = pick(pStr)
      val ch = pick(Seq("a", "e", "o", "r", "l"))
      val (from, len) = (rnd.nextInt(4) + 1, rnd.nextInt(6) + 2)
      add("strfns",
        s"SELECT CAST(sum(instr($c, '$ch') + locate('$ch', $c) + length($c)) AS BIGINT) AS s, " +
          s"CAST(count(DISTINCT substr($c, $from, $len)) AS BIGINT) AS d, " +
          s"CAST(count(DISTINCT translate($c, 'aeo', 'xyz')) AS BIGINT) AS t FROM part",
        s"SELECT CAST(sum(strpos($c, '$ch') + strpos($c, '$ch') + length($c)) AS BIGINT) AS s, " +
          s"CAST(count(DISTINCT substr($c, $from, $len)) AS BIGINT) AS d, " +
          s"CAST(count(DISTINCT translate($c, 'aeo', 'xyz')) AS BIGINT) AS t FROM part")
    }

    // 10) NULL semantics: NULLIF / COALESCE / null-safe equality
    (1 to nPerFamily).foreach { _ =>
      val c = pick(liStr)
      val v = pick(Seq("A", "N", "R", "O", "F"))
      val lim = rnd.nextInt(3000) + 100
      add("nullsem",
        s"SELECT CAST(count(COALESCE(NULLIF($c, '$v'), NULL)) AS BIGINT) AS n, " +
          s"CAST(sum(IF($c <=> '$v', 1, 0)) AS BIGINT) AS e " +
          s"FROM lineitem WHERE l_orderkey <= $lim",
        s"SELECT CAST(count(COALESCE(NULLIF($c, '$v'), NULL)) AS BIGINT) AS n, " +
          s"CAST(sum(CASE WHEN $c IS NOT DISTINCT FROM '$v' THEN 1 ELSE 0 END) AS BIGINT) AS e " +
          s"FROM lineitem WHERE l_orderkey <= $lim")
    }

    out.result()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String, seed: Long,
      nPerFamily: Int): Seq[String] = {
    Seq("lineitem", "part", "orders").foreach(t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t))
    new java.io.File(outDir).mkdirs()
    val cs = cases(seed, nPerFamily)
    val failed = Seq.newBuilder[String]
    cs.foreach { c =>
      try HiveQl.sql(spark, c.hive).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += c.name
        System.err.println(s"[fuzzoracle] ${c.name} failed: ${e.getMessage}")
      }
    }
    val json = cs.map(c => s"${Verify.jsonQuote(c.name)}: ${Verify.jsonQuote(c.ansi)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 20260817L
    val n = if (args.length > 3) args(3).toInt else 20
    val spark = Sessions.get("graft-fuzzoracle")
    spark.sparkContext.setLogLevel("WARN")
    val failed = run(spark, sfDir, outDir, seed, n)
    println(s"[fuzzoracle] wrote ${cases(seed, n).size} cases to $outDir " +
      s"(seed=$seed, failed=${failed.size})")
    spark.stop()
  }
}
