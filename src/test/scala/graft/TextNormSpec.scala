package graft

/** Unicode normalization kernels (functions/TextNorm.scala) -- the cases the
  * ASCII fixture can't exercise: canonical composition folds precomposed
  * and decomposed forms to one dedup key, NFKC additionally folds
  * compatibility characters. All non-ASCII is spelled as \uXXXX escapes so
  * no editor/tooling normalization can silently defeat the preconditions.
  */
class TextNormSpec extends SparkSpec {

  private def one(sql: String): String =
    spark.sql(sql).collect()(0).getString(0)

  test("nfc_normalize folds decomposed text onto the precomposed form") {
    val precomposed = "café"        // e-acute, single code point
    val decomposed = "café"        // e + combining acute
    assert(precomposed != decomposed, "precondition: raw forms differ")
    assert(one(s"SELECT nfc_normalize('$decomposed')") == precomposed)
    assert(one(s"SELECT nfc_normalize('$precomposed')") == precomposed)
    // the dedup consequence: one md5 key for both arrivals
    import spark.implicits._
    val keys = Seq(precomposed, decomposed).toDF("text")
      .selectExpr("md5(nfc_normalize(text)) AS k")
      .distinct().count()
    assert(keys == 1, "normalized content hash must unify the two forms")
  }

  test("unicode_normalize NFKC folds compatibility forms; NFD decomposes") {
    // fi ligature U+FB01; full-width digits U+FF11 U+FF12
    assert(one("SELECT unicode_normalize('ﬁle', 'NFKC')") == "file")
    assert(one("SELECT unicode_normalize('１２', 'NFKC')") == "12")
    assert(one("SELECT unicode_normalize('café', 'NFD')") == "café")
  }

  test("normalization is idempotent and null/total") {
    val s = "café naïve ﬃ ＨＩ"
    val once = one(s"SELECT unicode_normalize('$s', 'NFKC')")
    assert(one(s"SELECT unicode_normalize('$once', 'NFKC')") == once)
    assert(spark.sql("SELECT nfc_normalize(cast(NULL AS string))").collect()(0).isNullAt(0))
    assert(one("SELECT nfc_normalize('')") == "")
    // non-literal form refuses loudly
    val e = intercept[Exception](
      spark.sql("SELECT unicode_normalize('x', lower('NFC'))").collect())
    assert(e.getMessage.contains("unicode_normalize"), e.getMessage)
  }
}
