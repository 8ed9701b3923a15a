package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Differential fuzzing over the closed dialect (VERDICT r16 task #5):
  * with every reference `.q` file transcribed, the residual correctness
  * risk is in statements no `.q` exercises — above all, the ~14 regex
  * rewrite passes in `HiveQl.sql` silently corrupting a statement they
  * were never aimed at. Two seeded batteries, pinned seed:
  *
  * 1. ANSI-subset differential: generate random SELECTs (joins,
  *    aggregates, CASE, IN, LIKE, BETWEEN, HAVING, nested FROM-subquery,
  *    ORDER/LIMIT) that are valid in BOTH HiveQL and Spark SQL, run each
  *    through `HiveQl.sql` (the full rewrite pipeline) AND the native
  *    path graft's own statements take (`HiveQl.native`: substitution
  *    and the static rewrites only), and require identical result
  *    multisets. Same engine
  *    on both sides, so any divergence is a rewrite-pass bug, not a
  *    semantics gap. (Numeric compare is tolerance-based: the Hive
  *    FloatLiteral pass types `0.5` as DOUBLE where Spark's parser makes
  *    DECIMAL — a deliberate, documented dialect difference.)
  *
  * 2. Hive-dialect metamorphic relations, randomized over predicates and
  *    columns: complementary filters partition the row count under
  *    3-valued logic, `TABLESAMPLE(BUCKET 1 OUT OF 1)` is the identity,
  *    DISTRIBUTE BY / CLUSTER BY / SORT BY preserve multisets, LATERAL
  *    VIEW explode of a 2-array doubles rows, UNION ALL self-union
  *    doubles counts, and a LEFT SEMI join equals IN-subquery.
  *
  * A caught divergence gets promoted to a named regression query in the
  * registry (none caught at seed 20260816 / 300+120 cases — recorded
  * here as the pinned corpus).
  */
class FuzzParitySpec extends SparkSpec {

  // pinned corpus seed; override with -Dgraft.fuzz.seed=N to hunt fresh
  private val seed = sys.props.getOrElse("graft.fuzz.seed", "20260816").toInt
  private val nDiff = 300
  private val nMeta = 120

  private lazy val s: SparkSession = {
    val qs = Sessions.isolatedClone(spark)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation")
      .foreach(t => Tables.load(qs, sfDir, t).createOrReplaceTempView(t))
    qs
  }

  // ---- generator ------------------------------------------------------------

  private case class Tbl(name: String, numCols: Seq[String],
      strCols: Seq[String], key: String)

  private val lineitem = Tbl("lineitem",
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey",
      "l_partkey", "l_suppkey", "l_linenumber"),
    Seq("l_returnflag", "l_linestatus"), "l_orderkey")
  private val orders = Tbl("orders",
    Seq("o_orderkey", "o_custkey", "o_totalprice"),
    Seq("o_orderstatus", "o_orderpriority"), "o_orderkey")
  private val customer = Tbl("customer",
    Seq("c_custkey", "c_nationkey", "c_acctbal"),
    Seq("c_name", "c_mktsegment"), "c_custkey")
  private val tables = Seq(lineitem, orders, customer)

  private def lit(r: Random, col: String): String =
    if (col.endsWith("key") || col == "l_linenumber")
      (r.nextInt(2000)).toString
    else f"${r.nextDouble() * 100}%.2f"

  private def strLit(r: Random, col: String): String = col match {
    case "l_returnflag" => Seq("'A'", "'N'", "'R'")(r.nextInt(3))
    case "l_linestatus" => Seq("'O'", "'F'")(r.nextInt(2))
    case "o_orderstatus" => Seq("'O'", "'F'", "'P'")(r.nextInt(3))
    case "o_orderpriority" => s"'${1 + r.nextInt(5)}-'"
    case "c_mktsegment" =>
      Seq("'BUILDING'", "'AUTOMOBILE'", "'MACHINERY'")(r.nextInt(3))
    case _ => s"'C${r.nextInt(500)}'"
  }

  private def pred(r: Random, t: Tbl, depth: Int = 0): String = {
    val leaf = r.nextInt(6) match {
      case 0 =>
        val c = t.numCols(r.nextInt(t.numCols.size))
        val op = Seq("<", "<=", ">", ">=", "=", "<>")(r.nextInt(6))
        s"$c $op ${lit(r, c)}"
      case 1 =>
        val c = t.numCols(r.nextInt(t.numCols.size))
        s"$c BETWEEN ${r.nextInt(100)} AND ${100 + r.nextInt(2000)}"
      case 2 =>
        val c = t.strCols(r.nextInt(t.strCols.size))
        if (r.nextBoolean()) s"$c = ${strLit(r, c)}"
        else s"$c IN (${strLit(r, c)}, ${strLit(r, c)})"
      case 3 =>
        val c = t.strCols(r.nextInt(t.strCols.size))
        val frag = strLit(r, c).stripPrefix("'").stripSuffix("'").take(2)
        s"$c LIKE '%$frag%'"
      case 4 =>
        val c = t.numCols(r.nextInt(t.numCols.size))
        s"pmod(cast($c AS INT), ${2 + r.nextInt(7)}) = ${r.nextInt(2)}"
      case _ =>
        val c = t.numCols(r.nextInt(t.numCols.size))
        s"$c IS NOT NULL"
    }
    if (depth < 2 && r.nextInt(3) == 0) {
      val op = if (r.nextBoolean()) "AND" else "OR"
      val neg = if (r.nextInt(4) == 0) "NOT " else ""
      s"($leaf $op $neg${pred(r, t, depth + 1)})"
    } else leaf
  }

  private def aggExpr(r: Random, t: Tbl, i: Int): String = {
    val c = t.numCols(r.nextInt(t.numCols.size))
    r.nextInt(5) match {
      case 0 => s"sum($c) AS a$i"
      case 1 => s"min($c) AS a$i"
      case 2 => s"max($c) AS a$i"
      case 3 => s"count(*) AS a$i"
      case _ => s"count(DISTINCT $c) AS a$i"
    }
  }

  /** One random SELECT valid in both dialects. */
  private def genQuery(r: Random): String = r.nextInt(5) match {
    case 0 => // filtered aggregate
      val t = tables(r.nextInt(tables.size))
      val g = t.strCols(r.nextInt(t.strCols.size))
      val aggs = (0 until 1 + r.nextInt(3)).map(aggExpr(r, t, _))
      val having =
        if (r.nextBoolean()) s" HAVING count(*) > ${r.nextInt(3)}" else ""
      s"SELECT $g, ${aggs.mkString(", ")} FROM ${t.name} " +
        s"WHERE ${pred(r, t)} GROUP BY $g$having"
    case 1 => // join + aggregate
      val onL = "l_orderkey"
      s"SELECT o.o_orderstatus, count(*) AS a0, sum(l.l_quantity) AS a1 " +
        s"FROM lineitem l JOIN orders o ON l.$onL = o.o_orderkey " +
        s"WHERE ${pred(r, lineitem).replaceAll("\\bl_", "l.l_")} " +
        s"GROUP BY o.o_orderstatus"
    case 2 => // CASE projection with order/limit (deterministic tiebreak)
      val t = tables(r.nextInt(tables.size))
      val c = t.numCols(r.nextInt(t.numCols.size))
      val sc = t.strCols(r.nextInt(t.strCols.size))
      s"SELECT ${t.key}, CASE WHEN $c > ${lit(r, c)} THEN 'hi' " +
        s"WHEN $sc = ${strLit(r, sc)} THEN 'mid' ELSE 'lo' END AS band " +
        s"FROM ${t.name} WHERE ${pred(r, t)} " +
        s"ORDER BY ${t.key}, band LIMIT ${10 + r.nextInt(90)}"
    case 3 => // FROM-subquery re-aggregation
      val t = tables(r.nextInt(tables.size))
      val g = t.strCols(r.nextInt(t.strCols.size))
      val c = t.numCols(r.nextInt(t.numCols.size))
      s"SELECT band, count(*) AS a0 FROM (SELECT $g AS band, sum($c) AS s " +
        s"FROM ${t.name} WHERE ${pred(r, t)} GROUP BY $g) sub " +
        s"WHERE s IS NOT NULL GROUP BY band"
    case _ => // scalar expressions, no aggregation
      val t = tables(r.nextInt(tables.size))
      val c = t.numCols(r.nextInt(t.numCols.size))
      val c2 = t.numCols(r.nextInt(t.numCols.size))
      s"SELECT ${t.key}, round($c * 2 + $c2, 2) AS x, " +
        s"concat(${t.strCols.head}, '_', ${t.strCols.last}) AS y " +
        s"FROM ${t.name} WHERE ${pred(r, t)} " +
        s"ORDER BY ${t.key}, x, y LIMIT ${5 + r.nextInt(45)}"
  }

  // ---- comparison -----------------------------------------------------------

  private def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map { row =>
      (0 until row.length).map { i =>
        val v = if (row.isNullAt(i)) null else row.get(i)
        v match {
          case null => "NULL"
          case d: java.math.BigDecimal => f"${d.doubleValue()}%.4f"
          case d: Double => f"$d%.4f"
          case f: Float => f"${f.toDouble}%.4f"
          case o => o.toString
        }
      }
    }.sortBy(_.mkString(""))

  private def diffCase(r: Random, i: Int): Option[String] = {
    val q = genQuery(r)
    val viaHive = canon(HiveQl.sql(s, q))
    val viaSpark = canon(HiveQl.native(s, q))
    if (viaHive == viaSpark) None
    else Some(s"fuzz#$i diverged:\n$q\nhive rows=${viaHive.size} " +
      s"spark rows=${viaSpark.size}\n" +
      s"hive head=${viaHive.take(3)}\nspark head=${viaSpark.take(3)}")
  }

  test(s"ANSI-subset differential: $nDiff seeded queries, HiveQl.sql == spark.sql") {
    val r = new Random(seed)
    val failures = (0 until nDiff).flatMap(i => diffCase(r, i))
    assert(failures.isEmpty, failures.take(3).mkString("\n\n"))
  }

  test(s"Hive-dialect metamorphic relations: $nMeta seeded cases") {
    val r = new Random(seed + 1)
    (0 until nMeta).foreach { i =>
      val t = tables(r.nextInt(tables.size))
      val p = pred(r, t)
      r.nextInt(6) match {
        case 0 => // complementary predicates partition the table (3VL-safe)
          val full = HiveQl.sql(s, s"SELECT count(*) AS c FROM ${t.name}")
            .head.getLong(0)
          val a = HiveQl.sql(s,
            s"SELECT count(*) AS c FROM ${t.name} WHERE $p").head.getLong(0)
          val b = HiveQl.sql(s, s"SELECT count(*) AS c FROM ${t.name} " +
            s"WHERE NOT ($p) OR ($p) IS NULL").head.getLong(0)
          assert(a + b == full, s"meta#$i 3VL partition: $a + $b != $full on $p")
        case 1 => // BUCKET 1 OUT OF 1 sampling is the identity
          val full = HiveQl.sql(s,
            s"SELECT count(*) AS c FROM ${t.name} WHERE $p").head.getLong(0)
          val sampled = HiveQl.sql(s, s"SELECT count(*) AS c FROM ${t.name} " +
            s"TABLESAMPLE (BUCKET 1 OUT OF 1 ON ${t.key}) x WHERE $p")
            .head.getLong(0)
          assert(sampled == full, s"meta#$i identity-sample: $sampled != $full")
        case 2 => // DISTRIBUTE BY / SORT BY / CLUSTER BY preserve the multiset
          val base = canon(HiveQl.sql(s,
            s"SELECT ${t.key} AS k FROM ${t.name} WHERE $p"))
          val clause = Seq(s"DISTRIBUTE BY k", s"DISTRIBUTE BY k SORT BY k",
            s"CLUSTER BY k")(r.nextInt(3))
          val got = canon(HiveQl.sql(s,
            s"SELECT ${t.key} AS k FROM ${t.name} WHERE $p $clause"))
          assert(got == base, s"meta#$i $clause changed the multiset")
        case 3 => // LATERAL VIEW explode of a 2-array doubles the rows
          val n = HiveQl.sql(s,
            s"SELECT count(*) AS c FROM ${t.name} WHERE $p").head.getLong(0)
          val ln = HiveQl.sql(s, s"SELECT count(*) AS c FROM ${t.name} " +
            s"LATERAL VIEW explode(array(1, 2)) e AS v WHERE $p")
            .head.getLong(0)
          assert(ln == 2 * n, s"meta#$i lateral view: $ln != 2*$n")
        case 4 => // UNION ALL self-union doubles the count
          val n = HiveQl.sql(s,
            s"SELECT count(*) AS c FROM ${t.name} WHERE $p").head.getLong(0)
          val u = HiveQl.sql(s, s"SELECT count(*) AS c FROM (" +
            s"SELECT * FROM ${t.name} WHERE $p UNION ALL " +
            s"SELECT * FROM ${t.name} WHERE $p) un").head.getLong(0)
          assert(u == 2 * n, s"meta#$i union-all: $u != 2*$n")
        case _ => // LEFT SEMI JOIN == IN-subquery
          val op = pred(r, orders)
          val semi = HiveQl.sql(s, s"SELECT count(*) AS c FROM lineitem l " +
            s"LEFT SEMI JOIN (SELECT o_orderkey FROM orders WHERE $op) o " +
            s"ON l.l_orderkey = o.o_orderkey").head.getLong(0)
          val in = HiveQl.sql(s, s"SELECT count(*) AS c FROM lineitem " +
            s"WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE $op)")
            .head.getLong(0)
          assert(semi == in, s"meta#$i semi-vs-in: $semi != $in on $op")
      }
    }
  }
}
