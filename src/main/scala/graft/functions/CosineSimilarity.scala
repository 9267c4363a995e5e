package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two float-array columns.
  *
  * WHY a custom Catalyst Expression (the one place built-ins genuinely
  * fall short, per the §7.3 decision table): the composable formulation —
  * `aggregate(zip_with(a, b, …))` — routes through higher-order-function
  * lambdas, which are CodegenFallback: every element allocates lambda
  * variables and evaluates interpreted. For ANN scans the dot product IS
  * the workload (corpus × dim element ops), so the kernel belongs in
  * whole-stage codegen: one fused loop, primitive float math, no
  * allocation. Interpreted `nullSafeEval` mirrors the generated code for
  * non-codegen paths.
  *
  * Identical arithmetic order to the HOF formulation (sequential fold,
  * double accumulators), so swapping it in changes nothing numerically —
  * FunctionsSpec asserts bit-equality against the HOF version.
  *
  * Registered as SQL function `cosine_similarity` via [[GraftExtensions]]
  * (SparkSessionExtensions) or [[GraftFunctions.register]] on a live
  * session.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); validate at construction instead.
  require(
    Seq(left, right).forall(e => !e.resolved || e.dataType == ArrayType(FloatType) ||
      e.dataType == ArrayType(FloatType, containsNull = false)),
    s"cosine_similarity expects array<float> inputs")

  override def dataType: DataType = DoubleType

  // Nullable regardless of input nullability: a dimension mismatch yields
  // NULL (silently truncating to min length would return a plausible score
  // for what is always an upstream bug, e.g. mixed embedding versions).
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) return null
    val n = x.length
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      s"""
         |float[] $x = $a.toFloatArray();
         |float[] $y = $b.toFloatArray();
         |if ($x.length != $y.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.length;
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xv = (double) $x[$i]; double yv = (double) $y[$i];
         |    $dot += xv * yv; $nx += xv * xv; $ny += yv * yv;
         |  }
         |  ${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |    ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  private[functions] type Builder = Seq[Expression] => Expression

  /** One SQL function: its registry name, the ExpressionInfo `DESCRIBE
    * FUNCTION` shows, and a builder that checks arity before constructing. */
  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      make: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, usage, ""),
      (children: Seq[Expression]) => {
        require(children.size == arity, s"$name takes exactly $arity arguments")
        make(children)
      })

  /** Every graft SQL function. Both registration paths — [[register]] on a
    * live session and [[GraftExtensions]] at session build — read this list.
    */
  private[functions] val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("cosine_similarity", classOf[CosineSimilarity], 2,
      "_FUNC_(a, b) - cosine similarity of two float arrays (codegen'd fused loop).")(
      c => CosineSimilarity(c(0), c(1))),
    fn("hamming_distance", classOf[HammingDistance], 2,
      "_FUNC_(a, b) - byte-wise hamming distance of two strings (codegen'd).")(
      c => HammingDistance(c(0), c(1))),
    fn("decimal_dot", classOf[DecimalDot], 2,
      "_FUNC_(a, b) - DECIMAL(28,14)-exact dot product of two float arrays " +
        "(fused form of the oracle-arithmetic HOF fold; bit-identical).")(
      c => DecimalDot(c(0), c(1))),
    fn("decimal_sqdist", classOf[DecimalSqDist], 2,
      "_FUNC_(a, b) - DECIMAL(28,14)-exact squared euclidean distance of two " +
        "float arrays (fused form of the oracle-arithmetic HOF fold; bit-identical).")(
      c => DecimalSqDist(c(0), c(1))),
    fn("edit_distance_within", classOf[EditDistanceWithin], 3,
      "_FUNC_(a, b, k) - edit distance if <= k else -1 (byte-banded DP, early exit).")(
      c => EditDistanceWithin(c(0), c(1), c(2))),
    fn("damerau_levenshtein", classOf[DamerauLevenshtein], 2,
      "_FUNC_(a, b) - full Damerau-Levenshtein distance (adjacent transposition " +
        "= 1 edit, alphabet table; matches DuckDB's damerau_levenshtein).")(
      c => DamerauLevenshtein(c(0), c(1))),
    fn("jaro_winkler", classOf[JaroWinkler], 2,
      "_FUNC_(a, b) - Jaro-Winkler similarity (standard params: window " +
        "max/2-1, prefix<=4, scale 0.1, boost>0.7; matches DuckDB).")(
      c => JaroWinkler(c(0), c(1))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime-filter rewrite but does not register them as SQL functions;
    // exposing them here (same names Databricks uses) gives queries the
    // broadcast-compact-membership primitive without a driver-side
    // DataFrameStatFunctions round trip or an interpreted UDF.
    fn("bloom_filter_agg", classOf[BloomFilterAggregate], 3,
      "_FUNC_(xxhash64(col), items, bits) - build a bloom filter over a LONG hash column.")(
      c => new BloomFilterAggregate(c(0), c(1), c(2))),
    fn("might_contain", classOf[BloomFilterMightContain], 2,
      "_FUNC_(bloom, xxhash64(col)) - probabilistic membership (no false negatives).")(
      c => BloomFilterMightContain(c(0), c(1))),
    fn("sqdist", classOf[SqDist], 2,
      "_FUNC_(a, b) - double-precision squared euclidean distance of two " +
        "float arrays (the filter kernel of filter-and-refine assignment).")(
      c => SqDist(c(0), c(1))),
    fn("morton_index", classOf[MortonIndex], 2,
      "_FUNC_(x, y) - order-10 Morton (Z) interleave of two bigint grid " +
        "coordinates (compact JIT-friendly kernel).")(
      c => MortonIndex(c(0), c(1))),
    fn("hilbert_index", classOf[HilbertIndex], 2,
      "_FUNC_(x, y) - order-10 Hilbert curve index of two bigint grid " +
        "coordinates (compact JIT-friendly kernel).")(
      c => HilbertIndex(c(0), c(1))),
    fn("unicode_normalize", classOf[UnicodeNormalize], 2,
      "_FUNC_(s, form) - Unicode-normalize s under literal form " +
        "'NFC'|'NFD'|'NFKC'|'NFKD' (codegen'd JDK Normalizer).")(
      c => UnicodeNormalize(c(0), c(1))))

  /** Idempotent runtime registration of the SQL functions on a live
    * session; nothing else in the session changes. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
  }
}

/** spark.sql.extensions entry point: ships the functions with the session
  * from first plan, the deployment-grade path
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
