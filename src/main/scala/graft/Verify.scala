package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,…] — given query
  * names, only those queries and their oracle_sql.json entries are written.
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val all = SparkEntry.queries
    val queries = args.lift(2).map(_.split(",").toSet).fold(all) { names =>
      require(names.forall(all.contains), s"unknown query name in ${args(2)}")
      all.filter(kv => names(kv._1))
    }
    val spark = Sessions.get("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Each query builds against its OWN newSession (shared catalog +
    // SparkContext, PRIVATE SQLConf + temp views): a QueryDef that SETs a
    // semantic conf (hive.outerjoin.supports.filters, singlemr, …) can no
    // longer poison a neighbor whichever order the Map iterates (r11: q224's
    // leaked SET broke q178). Sorted order makes any residual cross-query
    // effect at least deterministic. ensureRegistered: function registry is
    // per-SessionState, so shadowing builtins must be re-pinned per session.
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qs = Sessions.isolatedClone(spark)
        fn(qs, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
