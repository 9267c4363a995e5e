package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, FloatType}

/** Exact-decimal fused kernels for the two oracle-arithmetic folds the
  * similarity queries spell declaratively:
  *
  *   dot:    aggregate(zip_with(a, b, (x, y) ->
  *             CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))),
  *             CAST(0 AS DECIMAL(28,14)), (acc, v) -> CAST(acc + v AS DECIMAL(28,14)))
  *           finished with CAST(... AS DOUBLE)
  *   sqdist: the same fold over (x − y)·(x − y)
  *
  * Spelled as HOFs, these decimal-accumulated forms (the engine-agnostic
  * exactness contract with the DuckDB oracle) make every pair scored by an
  * exact similarity query pay interpreted lambda eval and a materialized
  * per-pair Decimal array. These kernels run the SAME arithmetic in one
  * tight loop, bit-identically (the SRP fingerprint's bits are signs of
  * decimal_dot too):
  *
  *  - each term is `BigDecimal.valueOf(double).setScale(14, HALF_UP)` —
  *    exactly Spark's double→DECIMAL(28,14) cast (shortest-repr
  *    BigDecimal, then HALF_UP rescale);
  *  - accumulation is exact decimal addition at scale 14: on the hot path
  *    terms fit a scale-14 LONG fixed point (|term| < ~9.2e4, true for
  *    any sane embedding algebra) and fold with Math.addExact; the first
  *    value that doesn't fit falls the whole row back to the BigDecimal
  *    loop, so the result never depends on which path ran;
  *  - the finish is `BigDecimal.doubleValue()` — exactly Spark's
  *    Decimal→Double cast;
  *  - NULL parity with the HOF: NULL array, NULL element, or a length
  *    mismatch (zip_with pads with NULL, nulling the fold) → NULL; empty
  *    arrays fold to the decimal zero → 0.0;
  *  - a term or accumulator overflowing DECIMAL(28,14) throws loudly in
  *    BOTH ANSI and legacy modes (the legacy HOF would silently null —
  *    silent divergence is the one thing an exactness kernel must never
  *    do).
  *
  * FunctionsSpec pins kernel ≡ HOF over the real corpus for both shapes.
  */
abstract class DecimalFold extends BinaryExpression {

  /** the per-element double term (dot: x·y, sqdist: (x−y)²) */
  protected def term(x: Double, y: Double): Double

  /** true → finish with Decimal→Double (the dot spelling's outer CAST);
    * false → keep the exact DECIMAL(28,14) (the sqdist spelling, whose
    * consumers ORDER BY the value — a double round-trip could reorder
    * near-ties the oracle's exact decimals distinguish)
    */
  protected def toDouble: Boolean

  // Validation at ANALYSIS time, not construction: a constructor require in
  // this abstract parent would also run during task DEserialization, where
  // the subclass fields are still null, and the Column API hands in
  // lazily-converted nodes whose dataType is a placeholder until resolution.
  // Sides may be float or double arrays, independently (the IVF path
  // compares float embeddings against double centroids); a float element
  // is widened with the same CAST(x AS DOUBLE) the HOF spells.
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    Seq(left, right).map(_.dataType).collectFirst {
      case t if !(t.isInstanceOf[ArrayType] &&
          Seq(FloatType, DoubleType).contains(t.asInstanceOf[ArrayType].elementType)) =>
        TypeCheckFailure(s"$prettyName expects array<float|double> inputs, got $t")
    }.getOrElse(TypeCheckSuccess)
  }

  override def dataType: DataType =
    if (toDouble) DoubleType else DecimalType(28, 14)

  override def nullable: Boolean = true

  private def finish(acc: JBigDecimal): Any =
    if (toDouble) acc.doubleValue() else Decimal(acc, 28, 14)

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val ya = b.asInstanceOf[ArrayData]
    val n = xa.numElements()
    if (n != ya.numElements()) return null
    def xAt(i: Int) = if (leftIsFloat) xa.getFloat(i).toDouble else xa.getDouble(i)
    def yAt(i: Int) = if (rightIsFloat) ya.getFloat(i).toDouble else ya.getDouble(i)
    var i = 0
    var accL = 0L
    var fits = true
    while (i < n && fits) {
      if (xa.isNullAt(i) || ya.isNullAt(i)) return null
      val t = JBigDecimal.valueOf(term(xAt(i), yAt(i)))
        .setScale(14, RoundingMode.HALF_UP)
      try accL = Math.addExact(accL, t.unscaledValue().longValueExact())
      catch { case _: ArithmeticException => fits = false }
      i += 1
    }
    if (fits) return finish(JBigDecimal.valueOf(accL, 14))
    // slow path: redo the whole fold in BigDecimal (entered at most once
    // per row; never mixed with the fast path's partial sum)
    var acc = JBigDecimal.ZERO
    i = 0
    while (i < n) {
      if (xa.isNullAt(i) || ya.isNullAt(i)) return null
      val t = JBigDecimal.valueOf(term(xAt(i), yAt(i)))
        .setScale(14, RoundingMode.HALF_UP)
      if (t.precision() > 28)
        throw new ArithmeticException(s"$prettyName: term $i overflows DECIMAL(28,14)")
      acc = acc.add(t)
      if (acc.precision() > 28)
        throw new ArithmeticException(s"$prettyName: accumulator overflows DECIMAL(28,14)")
      i += 1
    }
    finish(acc)
  }

  /** Public bridge for the generated code (nullSafeEval is protected). */
  def evalPair(a: ArrayData, b: ArrayData): Any = nullSafeEval(a, b)

  /** Real codegen (not CodegenFallback): evaluate only the two array
    * children in-line and hand them to the kernel via a reference object.
    * The arithmetic stays in the audited evalPair above — one
    * implementation, both execution modes — while the surrounding stage
    * keeps whole-stage codegen (the fallback path would materialize the
    * full input row per call to feed an interpreted eval).
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("decimalFold", this, classOf[DecimalFold].getName)
      val r = ctx.freshName("kres")
      val assign =
        if (toDouble) s"${ev.value} = ((java.lang.Double) $r).doubleValue();"
        else s"${ev.value} = (org.apache.spark.sql.types.Decimal) $r;"
      s"""
         |Object $r = $ref.evalPair($a, $b);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  $assign
         |}
       """.stripMargin
    })

}

case class DecimalDot(left: Expression, right: Expression) extends DecimalFold {
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def toDouble: Boolean = true
  override def prettyName: String = "decimal_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DecimalSqDist(left: Expression, right: Expression) extends DecimalFold {
  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def toDouble: Boolean = false
  override def prettyName: String = "decimal_sqdist"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
