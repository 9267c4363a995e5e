package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, NullType, StringType}

/** Codegen'd Unicode normalization — `unicode_normalize(s, 'NFC')`.
  *
  * Spark (through 4.1) exposes NO Unicode normalization function, yet it
  * is the FIRST transform of any serious web-crawl curation pipeline: the
  * same visible text arrives both composed (é = U+00E9) and decomposed
  * (e + U+0301), with combining marks in either order (canonical
  * reordering), and with singleton compatibility points (Å the Angstrom
  * sign U+212B vs Å the letter U+00C5) — byte-distinct, render-identical
  * documents that exact dedup, shingling, and sha-based state all treat
  * as different until normalized. The reference framework feeds arbitrary
  * user bytes through its pipelines (bert/encoders/base.py:22-98 stores
  * raw strings untouched), so normalization there is the user's problem;
  * here it is a first-class kernel.
  *
  * Form is a foldable literal ('NFC' | 'NFD' | 'NFKC' | 'NFKD'), resolved
  * once at analysis — per-row form dispatch would defeat both codegen and
  * the reader's ability to know which equivalence the pipeline dedups
  * under. NFC is the cross-engine contract (DuckDB: nfc_normalize, same
  * utf8proc semantics — q_unicode_dedup gates the agreement); the K forms
  * fold compatibility points (ﬁ→fi, fullwidth Ａ→A, NBSP→space, ²→2) and
  * are pinned in-JVM by FunctionsSpec (DuckDB exposes no NFKC).
  *
  * The JDK's Normalizer is allocation-per-row (String round-trip) but
  * stays inside whole-stage codegen (real doGenCode, no fallback): the
  * generated code calls the static JDK entry point directly with the enum
  * constant baked in, exactly what hand-written Java would do.
  */
case class UnicodeNormalize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def prettyName: String = "unicode_normalize"

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult._
    // NullType is accepted like Spark's own string builtins do (via their
    // implicit cast): `unicode_normalize(NULL, 'NFC')` is a constant null,
    // not an analysis error. (ImplicitCastInputTypes itself is not
    // mixin-able here — AbstractDataType is private[sql].)
    if (left.dataType != StringType && left.dataType != NullType)
      TypeCheckFailure(s"$prettyName expects a string input, got ${left.dataType}")
    else formOrNull match {
      case null => TypeCheckFailure(
        s"$prettyName form must be a literal 'NFC'|'NFD'|'NFKC'|'NFKD'")
      case _ => TypeCheckSuccess
    }
  }

  /** The validated Form, or null when the second child is not one of the
    * four literal names (checkInputDataTypes turns that into an analysis
    * error — never a runtime surprise).
    */
  private def formOrNull: Normalizer.Form = right match {
    case Literal(s: UTF8String, StringType) if s != null =>
      try Normalizer.Form.valueOf(s.toString.toUpperCase(java.util.Locale.ROOT))
      catch { case _: IllegalArgumentException => null }
    case _ => null
  }

  @transient private lazy val form: Normalizer.Form = {
    val f = formOrNull
    // Belt-and-braces for an instance executed without the analysis check
    // having run (e.g. hand-built and eval'd directly): fail with the
    // contract, not an opaque NPE from form.name().
    if (f == null) throw new IllegalStateException(
      s"$prettyName form must be a literal 'NFC'|'NFD'|'NFKC'|'NFKD' " +
        s"(got ${right.sql}); was analysis skipped?")
    f
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val s = a.asInstanceOf[UTF8String].toString
    // isNormalized is a cheap scan that skips the rebuild for the common
    // already-normalized case (ASCII and most real text)
    if (Normalizer.isNormalized(s, form)) a
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // NullType input → constant null (same shape Literal(null) generates);
    // the nullSafeCodeGen path below would not typecheck on an Object-typed
    // null child.
    if (left.dataType == NullType) return ExprCode.forNullValue(dataType)
    val formConst = s"java.text.Normalizer.Form.${form.name()}"
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val s = ctx.freshName("str")
      s"""
         |String $s = $a.toString();
         |${ev.value} = java.text.Normalizer.isNormalized($s, $formConst)
         |  ? $a
         |  : org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, $formConst));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
