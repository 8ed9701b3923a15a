package graft

/** Proves the native vec_dot / vec_normalize kernels are bit-identical to
  * the SQL-HOF formulations they replaced in the embedding operators (which
  * the DuckDB oracles still describe), including null-element,
  * length-mismatch, zero-vector, and empty-array edges.
  */
class VecKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val hofDot =
    """aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
                 cast(0 AS double), (acc, v) -> acc + v)"""

  private val hofNorm =
    """transform(a, x -> double(x) /
         sqrt(aggregate(transform(a, y -> double(y) * double(y)),
              cast(0 AS double), (acc, v) -> acc + v)))"""

  private val vectors: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
    (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
    (Seq[java.lang.Double](0.1, -0.2, 0.3), Seq[java.lang.Double](-1.5, 2.5, -3.5)),
    (Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](0.0, 0.0)), // zero vec
    (Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]),         // empty
    (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 1.0, 1.0)), // null elem
    (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)))       // length mismatch

  test("vec_dot is bit-identical to the zip_with/aggregate HOF chain") {
    val df = vectors.toDF("a", "b")
    val rows = df.selectExpr(s"$hofDot AS hof", "vec_dot(a, b) AS native").collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1), s"native not null where HOF is: $r")
      else assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"bit mismatch: hof=${r.getDouble(0)} native=${r.getDouble(1)}")
    }
  }

  test("vec_dot on float arrays casts elementwise like the HOF") {
    val df = Seq((Seq(1.5f, -2.5f, 3.25f), Seq(0.5f, 4.0f, -1.0f))).toDF("a", "b")
    val r = df.selectExpr(s"$hofDot AS hof", "vec_dot(a, b) AS native").head()
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("vec_normalize is bit-identical to the staged-l2 HOF chain") {
    val df = vectors.map(_._1).toDF("a")
    val rows = df.selectExpr(s"$hofNorm AS hof", "vec_normalize(a) AS native").collect()
    rows.foreach { r =>
      val hof = r.getSeq[java.lang.Double](0)
      val nat = r.getSeq[java.lang.Double](1)
      assert(hof.size == nat.size, s"length mismatch: $r")
      hof.zip(nat).foreach {
        case (null, n) => assert(n == null, s"native not null where HOF is: $r")
        case (h, n) =>
          assert(n != null &&
            java.lang.Double.doubleToRawLongBits(h) ==
              java.lang.Double.doubleToRawLongBits(n),
            s"bit mismatch: hof=$h native=$n")
      }
    }
  }

  test("null input arrays propagate (strict null semantics)") {
    val df = spark.sql(
      "SELECT vec_dot(CAST(NULL AS array<double>), array(1.0D)) AS d, " +
        "vec_normalize(CAST(NULL AS array<double>)) AS n")
    val r = df.head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("non-array input is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(1, 2)").collect()
    }
    assert(e.getMessage.contains("vec_dot") || e.getMessage.contains("DATATYPE"))
  }
}
