package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native vector kernels for the embedding-pipeline hot paths (q54 / q65 /
  * q75 / q104 / q105): dot product and unit normalization over
  * `array<float|double>` columns.
  *
  * Each is semantically IDENTICAL — bit-for-bit, including null and
  * length-mismatch behavior — to the SQL-HOF formulation it replaces:
  *
  *   vec_dot(a, b)     = aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  *                                 cast(0 AS double), (acc, v) -> acc + v)
  *   vec_normalize(a)  = transform(a, x -> double(x) / l2)
  *                       with l2 staged as sqrt(aggregate(transform(a,
  *                         y -> double(y) * double(y)), 0D, (acc, v) -> acc + v))
  *
  * (both are left-to-right double accumulations, so the kernels accumulate
  * in index order — same IEEE result as the HOFs and as the DuckDB oracles'
  * list_sum/list_transform). The difference is purely mechanical: one tight
  * primitive loop over ArrayData instead of per-element interpreted lambda
  * dispatch with an intermediate array allocation — ~20× on the n_c²-sized
  * candidate-pair side of SemDeDup. eval-only (CodegenFallback): the loop
  * body has no branch worth inlining into surrounding codegen.
  */
trait VecElemReader {
  /** Index-order element read as double; caller has checked isNullAt. */
  protected def reader(et: DataType): (ArrayData, Int) => Double = et match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case _ => throw new IllegalStateException(s"unsupported element type $et")
  }

  protected def checkArray(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<float|double>, got ${t.sql}")
    }
}

/** `vec_dot(a, b)` — sequential-sum dot product, null/length semantics of
  * the zip_with formulation: any null element or a length mismatch (where
  * zip_with pads with null) yields NULL.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with VecElemReader {

  override def dataType: DataType = DoubleType

  // Can return NULL even for non-null inputs (length mismatch, null element),
  // so nullability must not be inherited from the children: with
  // non-nullable array inputs the parent's codegen would unbox a null.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = checkArray(left, "vec_dot")
    if (l != TypeCheckResult.TypeCheckSuccess) l else checkArray(right, "vec_dot")
  }

  @transient private lazy val readL =
    reader(left.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val readR =
    reader(right.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += readL(a, i) * readR(b, i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_normalize(a)` — a / ||a||₂ as array<double>, staged-l2 semantics
  * UNDER THE GRAFT SESSION: with any null element the staged l2 is null, so
  * EVERY output element is null (an array of nulls, not a null array); and
  * ||a||₂ = 0 yields all-null too, because the session pins Hive division
  * semantics (x ÷ 0 → NULL — Sessions/Misc q88) and the HOF chain's
  * per-element `x / l2` goes through that rewrite. VecKernelsSpec proves
  * both edges against the in-session HOF formulation.
  */
case class VecNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback with VecElemReader {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    checkArray(child, "vec_normalize")

  @transient private lazy val read =
    reader(child.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    var sq = 0.0
    var anyNull = false
    while (i < n && !anyNull) {
      if (a.isNullAt(i)) anyNull = true
      else { val x = read(a, i); sq += x * x }
      i += 1
    }
    val out = new Array[Any](n)
    // all-nulls, same length: null element ⇒ null l2 ⇒ null quotients;
    // zero l2 ⇒ Hive x/0 → NULL quotients (see scaladoc)
    if (anyNull || sq == 0.0) return new GenericArrayData(out)
    val l2 = math.sqrt(sq)
    i = 0
    while (i < n) {
      out(i) = read(a, i) / l2
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
