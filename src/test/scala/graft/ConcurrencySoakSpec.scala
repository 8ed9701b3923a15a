package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forks [[ConcurrencySoak]] into its own JVM (Derby-backed Hive catalog
  * is a static conf) and asserts the 8-connection / 100-iteration mixed
  * DDL+DML soak finishes with zero lost updates, zero leaked locks, and
  * LockSpec-shaped conflict refusals. Deliberately NOT extending
  * SparkSpec — must not force the shared in-memory-catalog session.
  */
class ConcurrencySoakSpec extends AnyFunSuite {

  test("8 parallel JDBC sessions: mixed DDL+DML soak, no deadlock or lost update") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val argv = Seq(
      s"${sys.props("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.ConcurrencySoak", scratch, "100")
    val pb = new ProcessBuilder(argv: _*).redirectErrorStream(true)
    val proc = pb.start()
    // stream the soak's output: keep the OK flag and a bounded tail only
    val tail = new java.util.ArrayDeque[String]
    var ok = false
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    try {
      var line = in.readLine()
      while (line != null) {
        ok ||= line.contains("[soak] OK")
        tail.addLast(line)
        if (tail.size > 200) tail.removeFirst()
        line = in.readLine()
      }
    } finally in.close()
    val code = proc.waitFor()
    assert(code == 0 && ok, s"concurrency soak failed (exit $code):\n" +
      String.join("\n", tail).takeRight(5000))
  }
}
