package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sign-random-projection fingerprint kernel: the fused form of the
  * q_embedding_neardup HOF spelling
  *
  *   array_join(transform(planes, parr ->
  *     CASE WHEN aggregate(zip_with(emb, parr, (a, b) ->
  *         CAST(CAST(a AS DOUBLE) * b AS DECIMAL(28,14))),
  *       CAST(0 AS DECIMAL(28,14)), (acc, x) -> CAST(acc + x AS DECIMAL(28,14))) > 0
  *     THEN '1' ELSE '0' END), '')
  *
  * which pays interpreted lambda-tree eval, a materialized 64-element
  * Decimal array per plane, and per-element closure plumbing — ~8k
  * interpreted expression evals per row for 64×64. This kernel runs the
  * SAME arithmetic in one tight loop and is bit-identical by construction:
  * each term is `BigDecimal.valueOf(double).setScale(14, HALF_UP)` —
  * exactly Spark's double→DECIMAL(28,14) cast (shortest-repr BigDecimal,
  * then HALF_UP rescale) — and the fold is exact BigDecimal addition at
  * scale 14, so the sign equals the HOF's `> 0` on the same decimal.
  * Degenerate inputs also match the HOF: a NULL embedding, a NULL element,
  * or a length mismatch each null out the fold, whose CASE yields '0' —
  * so those rows produce an all-'0' fingerprint, never NULL. The one
  * deliberate difference: a value overflowing DECIMAL(28,14) (≥1e14 —
  * no sane embedding) throws here in BOTH ANSI and legacy modes, where
  * the legacy HOF would silently null the plane; loud beats divergent.
  * FunctionsSpec pins kernel ≡ HOF over the real corpus.
  *
  * `planes` must be a foldable array<array<double>> literal (the
  * deterministic hyperplane matrix is query-side data, not per-row).
  */
case class SrpFingerprint(left: Expression, right: Expression)
    extends BinaryExpression {

  // Type validation happens at ANALYSIS time, not construction: the Column
  // API path wraps arguments in lazily-converted ColumnNodeExpression
  // nodes whose dataType is a placeholder until resolution.
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (right.foldable) TypeCheckSuccess
        else TypeCheckFailure("srp_fingerprint planes must be a literal (foldable)")
      case (ArrayType(FloatType, _), other) =>
        TypeCheckFailure(s"srp_fingerprint planes must be array<array<double>>, got $other")
      case (other, _) =>
        TypeCheckFailure(s"srp_fingerprint expects an array<float> embedding, got $other")
    }
  }

  override def dataType: DataType = StringType

  // never NULL: degenerate rows yield the all-'0' fingerprint (HOF parity)
  override def nullable: Boolean = false

  override def prettyName: String = "srp_fingerprint"

  @transient private lazy val planes: Array[Array[Double]] = {
    val v = right.eval(null)
    require(v != null, "srp_fingerprint planes must not be NULL")
    val pd = v.asInstanceOf[ArrayData]
    Array.tabulate(pd.numElements()) { p =>
      require(!pd.isNullAt(p), s"srp_fingerprint plane $p is NULL")
      val row = pd.getArray(p)
      Array.tabulate(row.numElements()) { i =>
        require(!row.isNullAt(i), s"srp_fingerprint plane $p component $i is NULL")
        row.getDouble(i)
      }
    }
  }

  override def eval(input: InternalRow): Any = fingerprintOf(left.eval(input))

  /** The whole kernel on an already-evaluated embedding value — shared by
    * interpreted eval and the generated code (one implementation, both
    * execution modes; the DecimalFold.evalPair precedent).
    */
  def fingerprintOf(e: Any): UTF8String = {
    val out = new Array[Byte](planes.length)
    if (e == null) {
      java.util.Arrays.fill(out, '0'.toByte)
      return UTF8String.fromBytes(out)
    }
    val arr = e.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hasNull = false
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true else vals(i) = arr.getFloat(i).toDouble
      i += 1
    }
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      out(p) =
        if (hasNull || n != plane.length) '0'.toByte
        else {
          var acc = JBigDecimal.ZERO
          var j = 0
          while (j < n) {
            val term = JBigDecimal.valueOf(vals(j) * plane(j))
              .setScale(14, RoundingMode.HALF_UP)
            // DECIMAL(28,14) cannot hold >14 integer digits: the HOF's
            // CAST errors here (ANSI) / nulls the plane (legacy). Silent
            // divergence is the one thing this kernel must never do, so
            // overflow fails loudly in both modes.
            if (term.precision() > 28)
              throw new ArithmeticException(
                s"srp_fingerprint: |${vals(j) * plane(j)}| overflows DECIMAL(28,14)")
            acc = acc.add(term)
            if (acc.precision() > 28)
              throw new ArithmeticException(
                "srp_fingerprint: accumulated dot product overflows DECIMAL(28,14)")
            j += 1
          }
          if (acc.signum() > 0) '1'.toByte else '0'.toByte
        }
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Real codegen (not CodegenFallback): only the embedding child is
    * evaluated in-line (the planes literal lives in this instance), and
    * the audited kernel runs via a reference object — the surrounding
    * stage keeps whole-stage codegen instead of materializing a full
    * input row per call for an interpreted eval.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = left.genCode(ctx)
    val ref = ctx.addReferenceObj("srp", this, classOf[SrpFingerprint].getName)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        |${childGen.code}
        |$javaType ${ev.value} = $ref.fingerprintOf(
        |  ${childGen.isNull} ? null : (Object) ${childGen.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SrpFingerprint {
  /** Column form with the plane matrix shipped as a true literal — the SQL
    * registry path only works when the planes argument is itself a foldable
    * array literal; a column reference (e.g. from typedLit + withColumn)
    * resolves to an attribute and is rejected.
    */
  def fingerprint(emb: org.apache.spark.sql.Column,
                  planes: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import org.apache.spark.sql.graft.PlanBridge
    PlanBridge.column(SrpFingerprint(PlanBridge.expression(emb),
      Literal.create(planes, ArrayType(ArrayType(DoubleType)))))
  }
}
