package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, IntegerType, NullType, StringType}

/** Full Damerau-Levenshtein distance (adjacent-transposition edit distance
  * with the alphabet last-occurrence table, Lowrance & Wagner 1975) — the
  * variant where a transposition may bridge already-edited characters, so
  * distance("CA","ABC") = 2, not the restricted/OSA 3. Spark ships only
  * plain `levenshtein`; typo-tolerant entity matching wants transpositions
  * scored as ONE edit ("MARHTA"→"MARTHA"), which halves the distance of the
  * single most common human typo class. Matches DuckDB's
  * `damerau_levenshtein` (verified full-variant via the CA/ABC probe), so
  * the q_damerau gate cross-validates two independent implementations.
  *
  * Code-point semantics (not bytes): both engines count one edit per
  * character for non-ASCII. ASCII fast path uses a 128-slot
  * last-occurrence array; otherwise a boxed map. O(n·m) time and space —
  * the matrix cannot be banded to two rows because the transposition case
  * reaches back to arbitrary (k, l); inputs are short keys/names by
  * design (part names here), and the quadratic is per PAIR, bounded by
  * the blocked candidate join around it, never by corpus size.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits outside org.apache.spark.sql (see
  // CosineSimilarity) — validate at construction; match StringType by
  // class so Spark 4 collated strings pass (the kernel is
  // collation-irrelevant: it compares code points).
  require(
    Seq(left, right).forall(e =>
      !e.resolved || e.dataType.isInstanceOf[StringType] || e.dataType == NullType),
    "damerau_levenshtein expects (string, string)")

  override def dataType: DataType = IntegerType

  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${classOf[DamerauLevenshtein].getName}.distance($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {

  /** Public + statically-forwarded so generated code calls it directly. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val x = JaroWinkler.codePoints(a)
    val y = JaroWinkler.codePoints(b)
    val n = x.length; val m = y.length
    if (n == 0) return m
    if (m == 0) return n
    val maxDist = n + m
    // d is (n+2) x (m+2), offset by 2: d(i+1)(j+1) corresponds to prefixes
    // x[0,i) / y[0,j) in the classic presentation
    val w = m + 2
    val d = new Array[Int]((n + 2) * w)
    d(0) = maxDist
    var i = 0
    while (i <= n) {
      d((i + 1) * w) = maxDist
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= m) {
      d(j + 1) = maxDist
      d(w + j + 1) = j
      j += 1
    }
    val da = new LastSeen(x, y)
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da.get(y(j - 1)) // last row where x had y's current char
        val l = db               // last col in this row where chars matched
        var cost = 1
        if (x(i - 1) == y(j - 1)) { cost = 0; db = j }
        var v = d(i * w + j) + cost                        // substitute/match
        val ins = d((i + 1) * w + j) + 1                   // insert
        if (ins < v) v = ins
        val del = d(i * w + j + 1) + 1                     // delete
        if (del < v) v = del
        val tr = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1) // transpose span
        if (tr < v) v = tr
        d((i + 1) * w + j + 1) = v
        j += 1
      }
      da.put(x(i - 1), i)
      i += 1
    }
    d((n + 1) * w + m + 1)
  }

  /** Alphabet last-occurrence table: flat array for ASCII, map otherwise. */
  private final class LastSeen(x: Array[Int], y: Array[Int]) {
    private val ascii: Array[Int] =
      if (allAscii(x) && allAscii(y)) new Array[Int](128) else null
    private val map: java.util.HashMap[Integer, Integer] =
      if (ascii == null) new java.util.HashMap[Integer, Integer]() else null

    def get(c: Int): Int =
      if (ascii != null) ascii(c)
      else { val v = map.get(c); if (v == null) 0 else v.intValue() }

    def put(c: Int, i: Int): Unit =
      if (ascii != null) ascii(c) = i else map.put(c, i)

    private def allAscii(a: Array[Int]): Boolean = {
      var i = 0
      while (i < a.length) { if (a(i) < 0 || a(i) > 127) return false; i += 1 }
      true
    }
  }
}
