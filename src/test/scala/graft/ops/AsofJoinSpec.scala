package graft.ops

import graft.SparkSpec
import graft.plans.{AsofFixtures, AsofJoinNative}

/** As-of join semantics on known answers: <= / >= inclusivity, no-match
  * nulls, key isolation, tolerance; and the naive per-key nearest-row
  * reference on random data. The engine is the merge exec
  * [[graft.plans.AsofJoinNative]]; its plan shape, AQE behaviour and
  * argument checks are covered in `AsofJoinNativeSpec`.
  */
class AsofJoinSpec extends SparkSpec with AsofFixtures {

  // R10 ties with L1 (inclusive both ways); R99 is key 2's only row
  private lazy val left = frame(Seq(r(1, 10, "L1"), r(1, 20, "L2"), r(2, 15, "L3")), "lt", "lv")
  private lazy val right = frame(Seq(r(1, 5, "R5"), r(1, 10, "R10"), r(1, 18, "R18"),
    r(2, 99, "R99")), "rt", "rv")

  private def matches(direction: String, tolSeconds: Option[Long] = None): Map[String, String] =
    AsofJoinNative.asof(left, right, "k", "lt", "rt", Map("rv" -> "rv_out"),
        direction, tolSeconds.map(_ * 1000000L))
      .collect().map(x => x.getAs[String]("lv") -> x.getAs[String]("rv_out")).toMap

  test("picks the latest right row at or before left time, per key") {
    assert(matches("backward") == Map("L1" -> "R10", "L2" -> "R18", "L3" -> null))
  }

  test("forward direction picks the NEXT right row at or after left time") {
    assert(matches("forward") == Map("L1" -> "R10", "L2" -> null, "L3" -> "R99"))
  }

  test("tolerance nulls out matches beyond the bound, keeps close ones") {
    // L2's backward match R18 is 2 s away; L3's forward match R99 is 84 s away
    assert(matches("backward", Some(2L)) == Map("L1" -> "R10", "L2" -> "R18", "L3" -> null))
    assert(matches("backward", Some(1L)) == Map("L1" -> "R10", "L2" -> null, "L3" -> null))
    assert(matches("forward", Some(60L)) == Map("L1" -> "R10", "L2" -> null, "L3" -> null))
  }

  test("matches the naive per-key nearest-row join on random data, all modes") {
    // a SMALL time range, so boundary-equal times occur
    val (ls, rs) = random(7, 200, 150, 5, 50)
    for ((dir, tol) <- Seq(("backward", None), ("forward", None),
        ("backward", Some(7L)), ("forward", Some(3L))))
      assert(engine(ls, rs, dir, tol) == reference(ls, rs, dir, tol),
        s"divergence at dir=$dir tol=$tol")
  }
}
