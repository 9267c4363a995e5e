package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

/** The as-of exec against the naive reference and the join + window
  * composition of [[AsofFixtures]] on every input, including the ugly ones:
  * null times, null keys, boundary-equal times, keys on one side only,
  * empty sides — plus the exec's own plan shape, stats and argument checks.
  * Known answers are in `graft.ops.AsofJoinSpec`.
  */
class AsofJoinNativeSpec extends SparkSpec with AsofFixtures with TableDrivenPropertyChecks {

  /** Exec, composition and naive reference all give the same rows. */
  private def assertAllAgree(left: Seq[R], right: Seq[R], direction: String,
                             tolSeconds: Option[Long]): Unit = {
    val want = reference(left, right, direction, tolSeconds)
    assert(composition(left, right, direction, tolSeconds) == want,
      s"composition: direction=$direction tolerance=$tolSeconds")
    assert(engine(left, right, direction, tolSeconds) == want,
      s"exec: direction=$direction tolerance=$tolSeconds")
  }

  test("≡ naive reference on a hand-picked edge-case table, all modes") {
    val cases = Table(
      ("left", "right"),
      // plain matches incl. boundary-equal time and a tolerance-boundary diff
      (Seq(r(1, 10, "a"), r(1, 20, "b"), r(2, 15, "c")),
        Seq(r(1, 10, "r1"), r(1, 15, "r2"), r(2, 16, "r3"))),
      // left-only and right-only keys
      (Seq(r(1, 10, "a"), r(3, 10, "b")), Seq(r(2, 5, "r1"))),
      // null left time (no match), null right time (skipped)
      (Seq(r(1, null, "a"), r(1, 10, "b")), Seq(r(1, null, "rX"), r(1, 5, "r1"))),
      // null keys group together
      (Seq(r(null, 10, "a"), r(1, 10, "b")), Seq(r(null, 5, "rN"), r(1, 5, "r1"))),
      // empty right
      (Seq(r(1, 10, "a")), Seq.empty[R]),
      // all right rows after all left rows
      (Seq(r(1, 10, "a")), Seq(r(1, 20, "r1"))),
      // per direction: one match at the tolerance boundary, one stale
      (Seq(r(1, 100, "a"), r(1, 200, "b")), Seq(r(1, 95, "r1"), r(1, 205, "r2"))))
    forAll(cases) { (left, right) =>
      for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(5L)))
        assertAllAgree(left, right, dir, tol)
    }
  }

  test("native ≡ composition on randomized data (fixed seed, 500×200 rows)") {
    val (left, right) = random(42, 500, 200, 20, 1000)
    assertAllAgree(left, right, "backward", None)
  }

  test("forward direction ≡ composition on randomized data") {
    val (left, right) = random(7, 400, 150, 15, 800)
    assertAllAgree(left, right, "forward", None)
  }

  test("tolerance ≡ composition tolerance, both directions") {
    val (left, right) = random(13, 300, 120, 10, 500)
    for (dir <- Seq("backward", "forward"))
      assertAllAgree(left, right, dir, Some(60L))
  }

  test("≡ naive reference across AQE coalescing regimes and partition counts") {
    val (left, right) = random(99, 300, 100, 12, 600)
    val regimes = Seq(
      // AQE on + aggressive coalescing (both exchanges must coalesce in
      // lockstep or zipPartitions would see mismatched partition counts)
      Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "13"),
      // AQE off at an odd partition count
      Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "13"),
      Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1"))
    val saved = regimes.flatMap(_.keys).distinct
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      for (conf <- regimes; dir <- Seq("backward", "forward")) {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        assert(engine(left, right, dir, None) == reference(left, right, dir, None),
          s"divergence under $conf, direction=$dir")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("self-join (same source both sides) does not collide attributes") {
    val ev = frame(Seq(r(1, 10, "a"), r(1, 20, "b"), r(2, 5, "c")), "lt", "lv")
    val out = AsofJoinNative.asof(ev, ev.toDF("k", "rt", "rv"),
      "k", "lt", "rt", Map("rv" -> "prev_v"))
    assert(out.count() == 3)
    val row = out.filter(col("lv") === "b").collect().head
    assert(row.getAs[String]("prev_v") == "b") // <=, boundary-equal self
  }

  test("plan: one exchange per side, per-partition sorts, AsofJoinExec node") {
    val l = frame(Seq(r(1, 10, "a")), "lt", "lv")
    val rr = frame(Seq(r(1, 5, "r")), "rt", "rv")
    val df = AsofJoinNative.asof(l, rr, "k", "lt", "rt", Map("rv" -> "rv_out"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"as-of exec not planned:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"expected exactly one hash exchange per side:\n$plan")
    assert(!plan.contains("Window"), "as-of must not plan a window")
  }

  test("unmatched rows are NULL even when right columns are non-nullable") {
    // tuples → non-nullable long columns; the result projection must bind
    // the right side as nullable or the no-match row silently emits the
    // type default (0 / epoch) instead of NULL
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (2L, 100L, "b")).toDF("k", "lt", "lv")
    val rr = Seq((1L, 50L, 7L)).toDF("k", "rt", "rv")
    assert(!rr.schema("rv").nullable, "fixture must be non-nullable to bite")
    val out = AsofJoinNative.asof(l, rr, "k", "lt", "rt",
      Map("rv" -> "rv_out", "rt" -> "rt_out"))
    val unmatched = out.filter(col("k") === 2).collect().head
    assert(unmatched.isNullAt(unmatched.fieldIndex("rv_out")),
      s"unmatched carried value must be NULL, got $unmatched")
    assert(unmatched.isNullAt(unmatched.fieldIndex("rt_out")))
    val matched = out.filter(col("k") === 1).collect().head
    assert(matched.getAs[Long]("rv_out") == 7L)
  }

  test("carried columns come atomically from ONE right row; NULL fields stay NULL") {
    import spark.implicits._
    // latest right row (rt=8) has rv2 = NULL; an older row (rt=5) has rv2 set.
    // Per-column carry would back-fill rv2 from rt=5, mixing two right rows.
    val left = Seq(("a", 10)).toDF("k", "t")
    val right = Seq(
      ("a", 5, Option("old1"), Option("old2")),
      ("a", 8, Option("new1"), None: Option[String])
    ).toDF("k", "rt", "rv1", "rv2")
    val row = AsofJoinNative.asof(left, right, "k", "t", "rt",
      Map("rv1" -> "rv1", "rv2" -> "rv2")).collect().head
    assert(row.getAs[String]("rv1") == "new1")
    assert(row.getAs[String]("rv2") == null) // from rt=8, not back-filled
  }

  test("left rows keep all their columns") {
    import spark.implicits._
    val left = Seq(("a", 10L, 1L, "z")).toDF("k", "t", "x", "y")
    val right = Seq(("a", 1L, 7L)).toDF("k", "rt", "rv")
    val out = AsofJoinNative.asof(left, right, "k", "t", "rt", Map("rv" -> "rv"))
    assert(out.columns.toSeq == Seq("k", "t", "x", "y", "rv"))
    val row = out.collect().head
    assert(row.getAs[Long]("x") == 1L && row.getAs[String]("y") == "z"
      && row.getAs[Long]("rv") == 7L)
  }

  test("rejects mismatched or unsupported time types") {
    val l = frame(Seq(r(1, 10, "a")), "lt", "lv")
    intercept[IllegalArgumentException] {
      AsofJoinNative.asof(l, l.withColumn("rt", col("lv")), "k", "lt", "rt", Map())
    }
  }

  test("rejects float keys (hash normalization) and clashing carried names") {
    val l = frame(Seq(r(1, 10, "a")), "lt", "lv")
    val lf = l.withColumn("k", col("k").cast("double"))
    intercept[IllegalArgumentException] {
      AsofJoinNative.asof(lf, lf.toDF("k", "rt", "rv"), "k", "lt", "rt", Map())
    }
    intercept[IllegalArgumentException] { // "lv" already exists on the left
      AsofJoinNative.asof(l, l.toDF("k", "rt", "rv"), "k", "lt", "rt",
        Map("rv" -> "lv"))
    }
  }

  test("rejects bad direction, negative tolerance and reserved carried names") {
    val l = frame(Seq(r(1, 10, "a")), "lt", "lv")
    val rr = frame(Seq(r(1, 5, "r")), "rt", "rv")
    intercept[IllegalArgumentException] {
      AsofJoinNative.asof(l, rr, "k", "lt", "rt", carried, direction = "sideways")
    }
    intercept[IllegalArgumentException] {
      AsofJoinNative.asof(l, rr, "k", "lt", "rt", carried, toleranceUnits = Some(-1L))
    }
    intercept[IllegalArgumentException] {
      AsofJoinNative.asof(l, rr, "k", "lt", "rt", Map("rv" -> "__asof_rt"))
    }
  }

  test("stats above the node are additive, not a cross-join-shaped product") {
    val l = frame(Seq(r(1, 10, "a")), "lt", "lv")
    val rr = frame(Seq(r(1, 5, "r")), "rt", "rv")
    val df = AsofJoinNative.asof(l, rr, "k", "lt", "rt", Map("rv" -> "rv_out"))
    val node = df.queryExecution.optimizedPlan.collect {
      case p: AsofJoinPlan => p }.head
    assert(node.stats.sizeInBytes ==
      node.left.stats.sizeInBytes + node.right.stats.sizeInBytes)
  }
}
