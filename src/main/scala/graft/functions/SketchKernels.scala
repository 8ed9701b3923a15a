package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native signature kernels for the near-dup sketch family (q52/q121
  * MinHash, q53/q122 SimHash). The SQL-HOF formulations they replace are
  * interpreted per element (`transform`/`aggregate` lambdas never enter
  * codegen), which made signature computation the dominant cost of the
  * unbounded scaling rehearsal (SURVEY §6.10: q52 8.5 s, q53 5.7 s at 1×,
  * almost all of it hashing). Each kernel is BIT-IDENTICAL to its HOF
  * original — same md5-derived values, same null/empty semantics — so the
  * DuckDB oracles are untouched; SketchKernelsSpec proves the equality on
  * fixture documents plus the degenerate edges.
  *
  * eval-only (CodegenFallback): md5 dominates, as with shingle_md5.
  */
private[functions] object SketchHash {
  /** h32: unsigned value of the first 8 md5 hex chars (= first 4 digest
    * bytes) of the UTF-8 input — identical to
    * `cast(conv(substr(md5(x), 1, 8), 16, 10) AS bigint)`.
    */
  def h32(md: java.security.MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Fresh per-thread MD5 digest — `MessageDigest` is stateful, task
    * threads share operator instances, and `getInstance` per row is a
    * needless provider lookup in the hot loop.
    */
  def threadLocalMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** minhash_sig(words, n): n MinHash values over a word array —
  * element i = min over words of h32(md5(i || ':' || word)), the exact
  * values of
  * {{{
  *   transform(sequence(0, n-1), i -> array_min(transform(words,
  *     w -> cast(conv(substr(md5(concat(cast(i AS string), ':', w)), 1, 8),
  *               16, 10) AS bigint))))
  * }}}
  * One digest per (i, word) — the value contract pins that — but one flat
  * loop with reused digest/buffer state instead of n·|words| interpreted
  * lambda frames and as many transient strings. Null/empty/all-null input
  * ⇒ array of n nulls, null words skipped — matching the HOF original
  * exactly (NOTE: even a NULL words array gives [null × n], because the
  * HOF's outer transform runs over `sequence(0, n-1)`, which is never
  * null; only the inner array_min sees the null).
  */
case class MinHashSig(child: Expression, n: Int)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override val dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // NullType = the untyped `array()` literal; every element is a null word
    case ArrayType(StringType | NullType, _) if n >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "minhash_sig expects (array<string>, int>=1)")
  }

  // UTF-8 of  i || ':'  per hash index, computed once per operator
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(n)(i => (i.toString + ":").getBytes("UTF-8"))

  // one digest per (operator, thread), not per ROW — getInstance is a
  // provider lookup + allocation, pure overhead beside md5 itself.
  // ThreadLocal because task threads share the operator instance.
  @transient private lazy val localMd = SketchHash.threadLocalMd5

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(new Array[Any](n))
    val arr = v.asInstanceOf[ArrayData]
    val md = localMd.get()
    val mins = new Array[Long](n)
    val hit = new Array[Boolean](n)
    var w = 0
    while (w < arr.numElements()) {
      if (!arr.isNullAt(w)) {
        val wordBytes = arr.getUTF8String(w).getBytes
        var i = 0
        while (i < n) {
          md.reset()
          md.update(prefixes(i))
          md.update(wordBytes)
          val d = md.digest()
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          if (!hit(i) || h < mins(i)) { mins(i) = h; hit(i) = true }
          i += 1
        }
      }
      w += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = if (hit(i)) java.lang.Long.valueOf(mins(i)) else null; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** simhash32(words): 32-bit SimHash over a word array — bit b of the
  * result is set when Σ over words of (±1 by bit b of h32(word)) is
  * positive; the exact value of q53's nested
  * aggregate/zip_with/transform formulation (including its null-word
  * quirk: `if(null = 1, 1, -1)` takes the else branch, so a null word
  * contributes −1 to every bit). Null input ⇒ null, empty ⇒ 0.
  */
case class SimHash32(child: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override val dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType | NullType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("simhash32 expects array<string>")
  }

  // see MinHashSig: one digest per (operator, thread), not per row
  @transient private lazy val localMd = SketchHash.threadLocalMd5

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val md = localMd.get()
    val sums = new Array[Int](32)
    var w = 0
    while (w < arr.numElements()) {
      if (arr.isNullAt(w)) {
        var b = 0
        while (b < 32) { sums(b) -= 1; b += 1 }
      } else {
        val h = SketchHash.h32(md, arr.getUTF8String(w).getBytes)
        var b = 0
        while (b < 32) {
          sums(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (sums(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
