package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Codegen'd hamming distance between two equal-length strings (bit-string
  * fingerprints). The composable form — size(filter(sequence(1, n), i ->
  * substring(a,i,1) != substring(b,i,1))) — allocates a 64-element array
  * and runs an interpreted lambda per position per pair; candidate-pair
  * verification makes this the inner loop of simhash near-dup search, so
  * it gets the same treatment as cosine: one fused byte loop.
  *
  * Byte-wise comparison is exact for ASCII fingerprints ('0'/'1'); lengths
  * differing count every surplus byte as a difference (total function, no
  * nulls beyond input nulls).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "hamming_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val n = math.min(x.length, y.length)
    var d = math.abs(x.length - y.length)
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) d += 1
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val d = ctx.freshName("d")
      s"""
         |byte[] $x = $a.getBytes();
         |byte[] $y = $b.getBytes();
         |int $n = Math.min($x.length, $y.length);
         |int $d = Math.abs($x.length - $y.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x[$i] != $y[$i]) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
