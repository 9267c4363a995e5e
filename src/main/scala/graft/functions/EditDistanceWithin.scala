package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, IntegerType, NullType, StringType}

/** Thresholded edit distance: distance if ≤ k, else -1 — drop-in semantics
  * for the built-in `levenshtein(a, b, k)`, ~10× cheaper per pair.
  *
  * WHY (measured, not guessed): blocked fuzzy matching evaluates edit
  * distance on every candidate pair, so the per-call constant IS the
  * workload (q_edit_distance: 8M pairs at sf0.1 — built-in levenshtein was
  * 8s of an 11s query). The built-in decodes UTF-8 code points per
  * character per DP cell; part names / document text are ASCII, where a
  * byte-wise two-row DP with an early row-minimum exit does the same work
  * in primitive byte compares. Non-ASCII inputs (and negative thresholds)
  * fall back to UTF8String.levenshteinDistance(other, k) — the built-in's
  * own kernel — so results are identical on every input.
  */
case class EditDistanceWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  // ExpectsInputTypes is off-limits outside org.apache.spark.sql (see
  // CosineSimilarity) — validate at construction so a wrong-typed argument
  // is an analysis-time error, not a mid-query ClassCastException.
  // NullType is admissible everywhere: a null input short-circuits the
  // null-safe eval to NULL before any cast runs. String inputs match by
  // CLASS, not object equality — Spark 4 collated strings are StringType
  // instances that != the default StringType object, and the byte-wise
  // kernel is collation-irrelevant.
  require(
    Seq(first, second).forall(e =>
      !e.resolved || e.dataType.isInstanceOf[StringType] || e.dataType == NullType) &&
      (!third.resolved || third.dataType == IntegerType || third.dataType == NullType),
    "edit_distance_within expects (string, string, int)")

  override def dataType: DataType = IntegerType

  override def prettyName: String = "edit_distance_within"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    EditDistanceWithin.distance(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = ${classOf[EditDistanceWithin].getName}.distance($a, $b, $c);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object EditDistanceWithin {

  /** Per-thread byte-count scratch for the bag screen — allocation-free
    * per call; touched entries are re-zeroed on exit (never a full fill).
    */
  private val bagCnt = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](256)
  }

  /** Character-bag LOWER BOUND screen (r16, guide §1.2 filter-and-refine
    * applied to the DP kernel — the semdedup/ANN double-kernel recipe):
    * every unit edit (insert / delete / substitute) changes the byte-count
    * multiset by at most 2 units of L1 distance, so
    * D := Σ_c |cnt_a(c) − cnt_b(c)| ≤ 2·levenshtein(a, b) — for the
    * ASCII inputs this path handles, bytes ARE characters. Hence D > 2k
    * proves the distance exceeds k and the banded DP can be skipped: the
    * result is -1 EITHER WAY, so the screen is output-invariant on every
    * input (EditDistanceWithinSpec pins kernel ≡ levenshtein(a,b,k)).
    * Measured on the q_edit_distance sf0.1 pair frame, D ≤ 2k keeps
    * 3.14M of 7.97M banded pairs — 61% of pairs skip the O(n·k) DP for an
    * O(n+m) counting pass (the DP's early exit needs ≥ k+1 rows ≈ 5×
    * the work even when it fires earliest). Returns true iff provably
    * out of reach. Incremental |·| tracking: pushing a count away from
    * zero adds 1 to D, toward zero subtracts 1 — no 256-entry walk.
    */
  private[functions] def bagBeyond(x: Array[Byte], y: Array[Byte], k: Int): Boolean = {
    val cnt = bagCnt.get()
    var d = 0
    var i = 0
    while (i < x.length) {
      val c = x(i) & 0xff
      if (cnt(c) >= 0) d += 1 else d -= 1
      cnt(c) += 1
      i += 1
    }
    i = 0
    while (i < y.length) {
      val c = y(i) & 0xff
      if (cnt(c) <= 0) d += 1 else d -= 1
      cnt(c) -= 1
      i += 1
    }
    // re-zero only touched entries (cheaper than clearing 256 ints)
    i = 0
    while (i < x.length) { cnt(x(i) & 0xff) = 0; i += 1 }
    i = 0
    while (i < y.length) { cnt(y(i) & 0xff) = 0; i += 1 }
    d.toLong > 2L * k
  }

  /** Banded byte-wise Levenshtein; -1 when the distance exceeds k.
    * Public + statically-forwarded so generated code calls it directly.
    */
  def distance(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0 || !a.isFullAscii || !b.isFullAscii)
      return a.levenshteinDistance(b, k) // built-in kernel: identical semantics
    val x = a.getBytes; val y = b.getBytes
    val n = x.length; val m = y.length
    if (math.abs(n - m) > k) return -1
    if (n == 0) return m // |m - 0| <= k already checked
    if (m == 0) return n
    // k < max length (else the DP can't return -1 and the screen can't
    // fire) — guards the 2*k multiply against overflow too (k ≤ m+n here)
    if (k < math.max(n, m) && bagBeyond(x, y, k)) return -1
    // the distance never exceeds max(n, m), so a larger threshold is
    // equivalent — and clamping keeps inf = kk + 1 from overflowing when
    // k = Int.MaxValue (where inf would wrap negative and clamp every DP
    // cell to a huge negative "infinity")
    val kk = math.min(k, math.max(n, m))
    val inf = kk + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= kk) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = if (i <= kk) i else inf
      var rowMin = cur(0)
      j = 1
      while (j <= m) {
        val cost = if (x(i - 1) == y(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > kk) return -1 // the band is exhausted — no path back under k
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) <= kk) prev(m) else -1
  }
}
