package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The custom Catalyst expression: numeric equivalence with the
  * higher-order-function formulation, null/edge handling, SQL registration.
  */
class FunctionsSpec extends SparkSpec {

  private val hof =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)
      | / (sqrt(aggregate(a, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |  * sqrt(aggregate(b, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  test("bit-identical to the HOF formulation on real embeddings") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .filter(col("ia") < 20 && col("ib") < 20)
    val diff = pairs
      .withColumn("native", expr("cosine_similarity(a, b)"))
      .withColumn("composed", expr(hof))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(diff == 0, "native expression diverged from HOF formulation")
  }

  test("null inputs yield null; zero vector yields 0.0; self-similarity ~1") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0f, 2.0f))),
      (None, Some(Array(1.0f, 2.0f))),
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 2.0f)))
    ).toDF("a", "b")
    val out = df.selectExpr("cosine_similarity(a, b) AS c").collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 0.0)
  }

  test("hamming_distance equals the composable formulation and handles edges") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      ("0101", "0101"), ("0101", "1101"), ("0000", "1111"), ("01", "0111")
    ).toDF("a", "b")
    val got = df.selectExpr("hamming_distance(a, b) AS h").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1, 4, 2)) // surplus bytes count as differences
    // equivalence with the HOF form on equal-length strings
    val diff = df.filter(org.apache.spark.sql.functions.length($"a") ===
        org.apache.spark.sql.functions.length($"b"))
      .selectExpr(
        "hamming_distance(a, b) AS h",
        "size(filter(sequence(1, length(a)), i -> substring(a, i, 1) != substring(b, i, 1))) AS h2")
      .filter($"h" =!= $"h2").count()
    assert(diff == 0)
  }

  test("registers through SparkSessionExtensions-style injection too") {
    // runtime registry path is what GraftExtensions wires at session build;
    // verify the builder function itself rejects bad arity
    intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.register(spark)
      spark.sql("SELECT cosine_similarity(array(1.0F))").collect()
    }
  }

  test("GraftExtensions injects every function GraftFunctions.register adds") {
    val fresh = spark.newSession() // built-ins only: no parent session state
    val registry = fresh.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    GraftFunctions.register(fresh)
    val added = registry.listFunction().toSet -- before
    assert(added.nonEmpty)
    val missing = added --
      org.apache.spark.sql.graft.ExtensionsBridge.functionsOf(new GraftExtensions)
    assert(missing.isEmpty, s"absent from GraftExtensions: $missing")
  }

  test("edit_distance_within matches built-in levenshtein(a, b, k) everywhere") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      ("kitten", "sitting"), ("abc", "abc"), ("", "abcd"), ("abcd", ""),
      ("small ring", "large ring"), ("red widget", "blue bolt"),
      ("naïve café", "naive cafe"), ("żółć", "zolc"), // non-ASCII fallback path
      ("a", "abcdefghij")
    ).toDF("a", "b")
    for (k <- Seq(0, 1, 4, 10)) {
      val diff = df.selectExpr(
          s"edit_distance_within(a, b, $k) AS custom",
          s"levenshtein(a, b, $k) AS builtin")
        .filter(col("custom") =!= col("builtin")).count()
      assert(diff == 0, s"divergence from built-in at k=$k")
    }
    // null propagation
    val r = spark.sql("SELECT edit_distance_within(NULL, 'x', 2) AS d").collect().head
    assert(r.isNullAt(0))
    // threshold exceeded -> -1, within -> exact distance
    val v = spark.sql(
      "SELECT edit_distance_within('kitten', 'sitting', 2), edit_distance_within('kitten', 'sitting', 3)")
      .collect().head
    assert(v.getInt(0) == -1 && v.getInt(1) == 3)
    // k = Int.MaxValue must not overflow the DP infinity (k+1 wraps)
    val big = spark.sql(
      s"SELECT edit_distance_within('kitten', 'sitting', ${Int.MaxValue}) AS d").collect().head
    assert(big.getInt(0) == 3)
    // wrong-typed threshold is a construction-time error, not a mid-query crash
    intercept[IllegalArgumentException] {
      spark.sql("SELECT edit_distance_within('a', 'b', 'x')").collect()
    }
  }

  test("edit_distance_within bag screen is output-invariant (randomized)") {
    // r16: the kernel pre-screens with the character-bag lower bound
    // (D = Σ|cnt_a - cnt_b| ≤ 2·distance, so D > 2k ⇒ -1 without the DP).
    // Fuzz the kernel against the built-in on random ASCII pairs drawn so
    // that both screen outcomes occur: near-duplicates (edit a few chars)
    // and unrelated strings, across thresholds including the boundary.
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20260818)
    val alpha = "abcdefgh "
    def randStr(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val i = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => cur.updated(i, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur.take(i) + alpha(rnd.nextInt(alpha.length)) + cur.drop(i)
          case _ if cur.nonEmpty => cur.take(i) + cur.drop(i + 1)
          case _ => cur
        }
      }
      cur
    }
    // the pairs that reach the screen in `distance` (non-empty ASCII, length
    // gap ≤ k < max length): true iff the screen rejects them
    def screens(a: String, b: String, k: Int): Option[Boolean] =
      if (a.isEmpty || b.isEmpty || math.abs(a.length - b.length) > k ||
          k >= math.max(a.length, b.length)) None
      else Some(EditDistanceWithin.bagBeyond(a.getBytes("US-ASCII"), b.getBytes("US-ASCII"), k))
    // equal lengths within k, so only the bag screen can reject before the DP
    assert(screens("aaaa", "bbbb", 3).contains(true))
    assert(EditDistanceWithin.distance(
      UTF8String.fromString("aaaa"), UTF8String.fromString("bbbb"), 3) == -1)
    var screenedSeen = 0
    var dpSeen = 0
    for (_ <- 1 to 2000) {
      val a = randStr(1 + rnd.nextInt(14))
      val b = if (rnd.nextBoolean()) mutate(a, rnd.nextInt(7)) else randStr(1 + rnd.nextInt(14))
      val k = rnd.nextInt(6)
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val got = EditDistanceWithin.distance(ua, ub, k)
      val want = ua.levenshteinDistance(ub, k)
      assert(got == want, s"kernel diverged on ('$a','$b',$k): got $got want $want")
      screens(a, b, k) match {
        case Some(true) => screenedSeen += 1
        case Some(false) => dpSeen += 1
        case None =>
      }
    }
    // both screen outcomes must actually have been exercised
    assert(screenedSeen > 100 && dpSeen > 100,
      s"fuzz draw did not cover both screen outcomes ($screenedSeen / $dpSeen)")
  }

  test("damerau_levenshtein: full-variant known values, bounds, non-ASCII") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the full-vs-OSA discriminator: CA→ABC is 2 under Lowrance-Wagner
    // (transpose then insert), 3 under restricted/OSA — DuckDB returns 2
    val known = spark.sql(
      """SELECT damerau_levenshtein('CA', 'ABC'),
        |  damerau_levenshtein('ab', 'ba'),
        |  damerau_levenshtein('MARTHA', 'MARHTA'),
        |  damerau_levenshtein('kitten', 'sitting'),
        |  damerau_levenshtein('abc', 'abc'),
        |  damerau_levenshtein('', 'abcd'),
        |  damerau_levenshtein('abcd', ''),
        |  damerau_levenshtein('żółć', 'żőłć'),
        |  damerau_levenshtein('żółć', 'óżłć')""".stripMargin).collect().head
    assert(Seq(2, 1, 1, 3, 0, 4, 4, 1, 1) ==
      (0 until 9).map(known.getInt), s"got $known")
    // null propagation
    assert(spark.sql("SELECT damerau_levenshtein(NULL, 'x')").collect().head.isNullAt(0))
    // invariants vs the built-in levenshtein on transposition-rich random
    // pairs: symmetric, 0 iff equal, and ceil(lev/2) <= dl <= lev (each
    // transposition replaces at most two substitutions)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300) {
      def mk = Seq.fill(rnd.nextInt(7))("ab".charAt(rnd.nextInt(2))).mkString
      (mk, mk)
    }
    val viol = pairs.toDF("a", "b").selectExpr(
        "a", "b",
        "damerau_levenshtein(a, b) AS dl",
        "damerau_levenshtein(b, a) AS dl_sym",
        "levenshtein(a, b) AS lev")
      .filter($"dl" =!= $"dl_sym" || $"dl" > $"lev" || $"dl" * 2 < $"lev" ||
        ($"dl" === 0) =!= ($"a" === $"b"))
      .count()
    assert(viol == 0)
  }

  test("jaro_winkler: standard-parameter known values, bounds, symmetry") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val r = spark.sql(
      """SELECT jaro_winkler('MARTHA', 'MARHTA'),
        |  jaro_winkler('DWAYNE', 'DUANE'),
        |  jaro_winkler('abc', ''),
        |  jaro_winkler('', ''),
        |  jaro_winkler('same', 'same'),
        |  jaro_winkler('abcd', 'dcba'),
        |  jaro_winkler('żółw', 'żółć'),
        |  jaro_winkler('😀a', '😀b')""".stripMargin).collect().head
    // canonical textbook values (also DuckDB's): MARTHA/MARHTA boosted
    // 0.9611..., DWAYNE/DUANE boosted 0.84
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.84) < 1e-12)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // non-ASCII is scored per code point: 3 of 4 match with a 3-point
    // common prefix (jaro 5/6, boosted by 0.3·(1/6)); a surrogate pair is
    // one point, so 1 of 2 match and 2/3 gets no boost
    assert(math.abs(r.getDouble(6) - 0.8833333333333333) < 1e-12, s"got $r")
    assert(math.abs(r.getDouble(7) - 2.0 / 3) < 1e-12, s"got $r")
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").collect().head.isNullAt(0))
    // random pairs: symmetric, in [0,1], 1 iff equal (non-empty alphabet)
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300) {
      def mk = Seq.fill(rnd.nextInt(8))("abz".charAt(rnd.nextInt(3))).mkString
      (mk, mk)
    }
    val viol = pairs.toDF("a", "b").selectExpr(
        "a", "b", "jaro_winkler(a, b) AS jw", "jaro_winkler(b, a) AS jw_sym")
      .filter($"jw" =!= $"jw_sym" || $"jw" < 0.0 || $"jw" > 1.0 ||
        ($"jw" === 1.0) =!= ($"a" === $"b"))
      .count()
    assert(viol == 0)
  }

  test("decimal_dot SRP fingerprint ≡ the decimal HOF spelling on the corpus") {
    import org.apache.spark.sql.functions.{col, expr, typedLit}
    import graft.queries.SimilarityQueries.{srpFingerprint, srpHofExpr, srpPlanes}
    graft.functions.GraftFunctions.register(spark)
    // the SAME plane matrix, fingerprint and HOF spelling the production
    // query uses — a drift in any of them immediately breaks this pin
    val both = graft.Tables.embeddings(spark, sfDir)
      .withColumn("planes", typedLit(srpPlanes))
      .select(col("vec_id"),
        expr(srpHofExpr).as("via_hof"),
        srpFingerprint(col("embedding")).as("via_query"))
      .collect()
    assert(both.nonEmpty)
    for (r <- both)
      assert(r.getString(1) == r.getString(2),
        s"fingerprint mismatch for vec_id ${r.getLong(0)}")
    // degenerate inputs: NULL embedding / NULL element / wrong length all
    // yield the all-'0' fingerprint in BOTH spellings, never NULL
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val weird = spark.createDataFrame(Seq(
      Row(1L, null),
      Row(2L, Seq(1.0f, null, 3.0f)),
      Row(3L, Seq(1.0f, 2.0f))).asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val w = weird.withColumn("planes", typedLit(srpPlanes))
      .select(expr(srpHofExpr).as("via_hof"),
        srpFingerprint(col("embedding")).as("via_query"))
      .collect()
    for (r <- w) {
      assert(r.getString(0) == "0" * 64 && r.getString(1) == "0" * 64,
        s"degenerate row must give all-zeros in both spellings: $r")
    }
  }

  test("every graft SQL function has a caller under queries/ or ops/") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Seq("queries", "ops").flatMap { d =>
      val st = Files.walk(Paths.get("src/main/scala/graft", d))
      try st.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(Files.readString).toList
      finally st.close()
    }
    assert(sources.nonEmpty)
    // a call of the SQL name, or a use of the expression class
    val uncalled = GraftFunctions.all.collect { case (id, info, _) =>
      val cls = info.getClassName.split('.').last
      val use = s"\\b(${id.funcName}|$cls)\\s*[(.]".r
      if (sources.exists(use.findFirstIn(_).isDefined)) None else Some(id.funcName)
    }.flatten
    assert(uncalled.isEmpty, s"registered but never called: ${uncalled.mkString(", ")}")
  }

  test("DistinctSetAgg (typed Aggregator) matches sort_array(collect_set())") {
    import org.apache.spark.sql.functions.{col, collect_set, sort_array}
    val ev = graft.Tables.events(spark, sfDir)
    val viaUdaf = ev.groupBy(col("event_type"))
      .agg(graft.functions.DistinctSetAgg.distinctSet(col("user_id")).as("users"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaBuiltin = ev.groupBy(col("event_type"))
      .agg(sort_array(collect_set(col("user_id"))).as("users"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaUdaf == viaBuiltin)
    assert(viaUdaf.nonEmpty && viaUdaf.values.forall(s => s == s.sorted))
  }

  test("DistinctSetAgg skips NULL inputs like collect_set") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      Seq(Row("a", 1L: java.lang.Long), Row("a", null), Row("a", 2L: java.lang.Long),
        Row("b", null)).asJava,
      StructType(Seq(StructField("g", StringType), StructField("v", LongType))))
    val got = df.groupBy(col("g"))
      .agg(graft.functions.DistinctSetAgg.distinctSet(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") == Seq(1L, 2L), s"NULL must be skipped, got ${got("a")}")
    assert(got("b") == Seq.empty)
  }

  test("dimension mismatch yields NULL, not a truncated score") {
    graft.functions.GraftFunctions.register(spark)
    // SQL path (codegen) and a constant-folded/interpreted path both NULL
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0F, 2.0F), array(1.0F, 2.0F, 3.0F)) AS c").collect().head
    assert(r.isNullAt(0))
    val ok = spark.sql(
      "SELECT cosine_similarity(array(1.0F, 2.0F), array(1.0F, 2.0F)) AS c").collect().head
    assert(math.abs(ok.getDouble(0) - 1.0) < 1e-12)
  }

  test("property: decimal kernels equal an independent BigDecimal fold on random floats") {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // genuinely independent reference: scala-side fold, not the SQL HOF
    def ref(x: Seq[Float], y: Seq[Float], term: (Double, Double) => Double): JBD =
      x.zip(y).foldLeft(JBD.ZERO) { case (acc, (a, b)) =>
        acc.add(JBD.valueOf(term(a.toDouble, b.toDouble)).setScale(14, RM.HALF_UP))
      }
    val genVec = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100.0f, 100.0f)))
    val gen = for { x <- genVec; y <- Gen.listOfN(x.length, Gen.chooseNum(-100.0f, 100.0f)) } yield (x, y)
    val prop = Prop.forAllNoShrink(gen) { case (x, y) =>
      val row = Seq((x, y)).toDF("x", "y")
        .selectExpr("decimal_dot(x, y) AS d", "decimal_sqdist(x, y) AS s")
        .collect().head
      row.getDouble(0) == ref(x, y, _ * _).doubleValue() &&
        row.getDecimal(1).compareTo(ref(x, y, (a, b) => (a - b) * (a - b))) == 0
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("decimal_dot / decimal_sqdist ≡ the decimal HOF spellings on the real corpus") {
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.GraftFunctions.register(spark)
    val dotHof =
      """CAST(aggregate(zip_with(ea, eb, (a, b) ->
        |  CAST(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) AS DECIMAL(28,14))),
        |  CAST(0 AS DECIMAL(28,14)), (acc, x) -> CAST(acc + x AS DECIMAL(28,14))) AS DOUBLE)""".stripMargin
    // sqdist keeps the exact DECIMAL(28,14) (consumers order by it)
    val sqHof =
      """aggregate(zip_with(ea, eb, (x, y) ->
        |    CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
        |       * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(28,14))),
        |  CAST(0 AS DECIMAL(28,14)), (acc, v) -> CAST(acc + v AS DECIMAL(28,14)))""".stripMargin
    val e = graft.Tables.embeddings(spark, sfDir)
    // adjacent-id pairs: every corpus vector participates on both sides
    val pairs = e.select(col("vec_id"), col("embedding").as("ea"))
      .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb")), "vec_id")
    val both = pairs.select(
      expr(dotHof).as("dot_hof"), expr("decimal_dot(ea, eb)").as("dot_k"),
      expr(sqHof).as("sq_hof"), expr("decimal_sqdist(ea, eb)").as("sq_k"),
      expr("decimal_dot(ea, ea)").as("self_k"),
      expr(
        """CAST(aggregate(ea, CAST(0 AS DECIMAL(28,14)), (acc, x) ->
          |  CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)) AS DECIMAL(28,14))) AS DOUBLE)""".stripMargin)
        .as("self_hof"))
      .collect()
    assert(both.nonEmpty)
    for (r <- both) {
      // bit-identity, not within-epsilon: compare raw IEEE bits
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"dot mismatch: $r")
      assert(r.getDecimal(2) == r.getDecimal(3), s"sqdist mismatch: $r")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(5)), s"self-dot mismatch: $r")
    }
    // NULL parity: NULL array / NULL element / length mismatch → NULL;
    // empty arrays → 0.0 (the fold's decimal zero)
    val edge = spark.sql(
      """SELECT decimal_dot(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS a,
        |       decimal_dot(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS b,
        |       decimal_dot(array(1.0F), array(1.0F, 2.0F)) AS c,
        |       decimal_dot(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS d,
        |       decimal_sqdist(array(1.0F), array(1.0F, 2.0F)) AS e""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2) && edge.isNullAt(4))
    assert(edge.getDouble(3) == 0.0)
    // long fixed-point overflow falls back to the BigDecimal loop with the
    // same result (terms near the scale-14 long limit)
    val big = spark.sql(
      """SELECT decimal_dot(array(60000.0F, 60000.0F, 60000.0F),
        |                   array(1.0F, 1.0F, 1.0F)) AS v""".stripMargin).collect().head
    assert(big.getDouble(0) == 180000.0)
  }

  test("sqdist filter kernel: within the refine bound of decimal_sqdist; NULL parity") {
    graft.functions.GraftFunctions.register(spark)
    // the filter-and-refine eps bound (SqDist scaladoc): for 64 terms the
    // double and decimal kernels differ by < 1e-9·(1 + d) on the real corpus
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(500)
      .selectExpr("sqdist(a.embedding, b.embedding) AS dd",
        "CAST(decimal_sqdist(a.embedding, b.embedding) AS DOUBLE) AS dx")
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (dd, dx) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(dd - dx) <= 1e-9 * (1.0 + math.min(dd, dx)),
        s"kernels diverge past the refine bound: dd=$dd dx=$dx")
    }
    // NULL semantics identical to decimal_sqdist: NULL array / NULL
    // element / length mismatch → NULL; empty arrays → 0.0
    val edge = spark.sql(
      """SELECT sqdist(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS a,
        |       sqdist(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS b,
        |       sqdist(array(1.0F), array(1.0F, 2.0F)) AS c,
        |       sqdist(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS d,
        |       sqdist(array(1.0F, 5.0F), array(4.0F, 1.0F)) AS e""".stripMargin)
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    assert(edge.getDouble(3) == 0.0)
    assert(edge.getDouble(4) == 25.0) // 3² + 4²
  }

  test("unicode_normalize: known vectors, all four forms, idempotence, bad form") {
    GraftFunctions.register(spark)
    // known vectors (all pre-Unicode-3.0 — stable across JDK/ICU tables):
    // composed vs decomposed, canonical mark reordering, the Angstrom-sign
    // singleton, and the NFKC-only compatibility folds DuckDB can't gate
    // (no nfkc function there — q_unicode_dedup covers the NFC contract)
    def norm(sHex: String, form: String): String = spark.sql(
      s"SELECT unicode_normalize(decode(unhex('$sHex'), 'UTF-8'), '$form') AS v")
      .collect().head.getString(0)
    def hex(t: String) = t.getBytes("UTF-8").map("%02x".format(_)).mkString
    assert(norm(hex("cafe\u0301"), "NFC") == "caf\u00e9")
    assert(norm(hex("caf\u00e9"), "NFD") == "cafe\u0301")
    // canonical reordering: dot-below (ccc 220) sorts under acute (ccc
    // 230); e+dot-below then composes to U+1EB9, the acute stays combining
    assert(norm(hex("e\u0301\u0323"), "NFC") == "\u1eb9\u0301")
    assert(norm(hex("e\u0323\u0301"), "NFC") == "\u1eb9\u0301")
    // NFC rewrites singletons even in already-composed-looking text
    assert(norm(hex("\u212b"), "NFC") == "\u00c5")
    // NFKC compatibility folds (NFC must keep all three distinct)
    assert(norm(hex("\ufb01sh"), "NFKC") == "fish")
    assert(norm(hex("\uff21BC"), "NFKC") == "ABC")
    assert(norm(hex("a\u00a0b"), "NFKC") == "a b")
    assert(norm(hex("\ufb01sh"), "NFC") == "\ufb01sh")
    // idempotence + ASCII identity (the isNormalized fast path)
    assert(norm(hex("plain ascii"), "NFC") == "plain ascii")
    assert(norm(hex(norm(hex("e\u0301\u0323"), "NFKD")), "NFKD")
      == norm(hex("e\u0301\u0323"), "NFKD"))
    // lowercase form name accepted; a non-form is an ANALYSIS error, and a
    // non-literal form never reaches execution
    assert(norm(hex("cafe\u0301"), "nfc") == "caf\u00e9")
    val bad = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    assert(bad.getMessage.contains("NFC"), s"unhelpful error: ${bad.getMessage}")
    val nonLit = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NF' || 'C')").collect()
    }
    assert(nonLit != null)
    // NULL input → NULL — both the typed and the UNTYPED spelling (the
    // bare NULL literal is NullType; builtin-string ergonomics say it
    // analyzes as a constant null, not a type error)
    assert(spark.sql("SELECT unicode_normalize(CAST(NULL AS STRING), 'NFC')")
      .collect().head.isNullAt(0))
    assert(spark.sql("SELECT unicode_normalize(NULL, 'NFC')")
      .collect().head.isNullAt(0))
  }
}
