package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CC on known graphs, in both regimes: the shared session resolves these
  * small graphs on the driver, and [[loopSession]] (broadcast threshold
  * −1) runs the distributed min-label loop. A case that does not say
  * otherwise checks both and that each took its regime. */
class ConnectedComponentsSpec extends SparkSpec {

  private lazy val loopSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
  private def sessions = Seq(spark, loopSession)

  private def edgeDf(pairs: (Long, Long)*): DataFrame = edgeDf(spark, pairs: _*)

  private def edgeDf(s: SparkSession, pairs: (Long, Long)*): DataFrame = {
    import s.implicits._
    pairs.toDF("a", "b")
  }

  /** Components of `edges` on session `s`, asserting the regime: 0 loop
    * rounds on the driver path, at least one on the loop. */
  private def resolve(s: SparkSession, edges: DataFrame): DataFrame = {
    val (df, iters) = ConnectedComponents.runWithStats(edges, "a", "b")
    assert((iters == 0) == (s eq spark), s"$iters rounds on the ${if (s eq spark) "driver" else "loop"} path")
    df
  }

  private def components(s: SparkSession, pairs: (Long, Long)*): Map[Long, Long] =
    resolve(s, edgeDf(s, pairs: _*)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The same components on both regimes. */
  private def components(pairs: (Long, Long)*): Map[Long, Long] = {
    val Seq(driver, loop) = sessions.map(components(_, pairs: _*))
    assert(driver == loop)
    driver
  }

  test("two disjoint components resolve to their min ids") {
    val c = components((1L, 2L), (2L, 3L), (10L, 11L))
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a long chain converges past one round (diameter > 1)") {
    // 0-1-2-...-9: min label must travel 9 hops
    val chain = (0L until 9L).map(i => (i, i + 1))
    val c = components(chain: _*)
    assert(c.size == 10)
    assert(c.values.forall(_ == 0L))
  }

  test("pointer jumping converges a 64-node chain in O(log n) rounds") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val (df, iters) = ConnectedComponents.runWithStats(edgeDf(loopSession, chain: _*), "a", "b")
    val c = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.size == 64)
    assert(c.values.forall(_ == 0L))
    // plain neighbor propagation would need 63 rounds (over maxIter=25)
    assert(iters <= 12, s"took $iters rounds")
  }

  test("throws instead of returning partial labels when maxIter is too low") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ConnectedComponents.run(edgeDf(loopSession, chain: _*), "a", "b", maxIter = 2)
    }
    // maxIter bounds the loop only: the driver path resolves the same chain
    val (df, iters) = ConnectedComponents.runWithStats(edgeDf(chain: _*), "a", "b", maxIter = 2)
    assert(iters == 0 && df.collect().forall(_.getLong(1) == 0L))
  }

  test("duplicate, reversed, and self edges are tolerated") {
    val c = components((5L, 4L), (4L, 5L), (5L, 5L), (4L, 3L))
    assert(c == Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("a node appearing only in a self-loop keeps a singleton component") {
    val c = components((7L, 7L), (1L, 2L))
    assert(c == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("a star graph with the center as max id") {
    val c = components((9L, 1L), (9L, 2L), (9L, 3L))
    assert(c.values.toSet == Set(1L))
    assert(c(9L) == 1L)
  }

  test("reliable-checkpoint mode produces identical components and writes checkpoint files") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    val expected = components(chain: _*)
    spark.conf.set(Lineage.FlagKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_reliable").toString
    spark.conf.set(Lineage.DirKey, dir)
    try {
      // a reliable checkpoint has no stored size, so even a small graph
      // takes the loop
      val (df, iters) = ConnectedComponents.runWithStats(edgeDf(chain: _*), "a", "b")
      assert(iters > 0)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
      // the loop actually went through the reliable path: either the
      // session's checkpoint dir was adopted from our conf and populated,
      // or it was already pinned by an earlier test — in both cases RDD
      // checkpoint files must exist under the active directory
      val active = new java.net.URI(
        spark.sparkContext.getCheckpointDir.get).getPath
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(active))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $active")
    } finally {
      spark.conf.set(Lineage.FlagKey, "false")
    }
  }

  test("property: random graphs match a driver-side union-find") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges = Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(0L, 19L); b <- Gen.chooseNum(0L, 19L)
    } yield (a, b))
    val prop = Prop.forAllNoShrink(genEdges) { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      sessions.forall(components(_, edges: _*) == expected)
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(r.passed, r.status.toString)
  }

  test("cluster stats over near-dup pairs match a driver-side union-find") {
    val pairs = graft.queries.SimilarityQueries.qMinhashLsh(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty)
    // reference union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(n => n -> find(n)).toMap
    assert(components(pairs.toSeq: _*) == expected)
  }

  test("null ids: an edge with a null end joins nothing, and a null id is one (null, null) row") {
    val out = sessions.map { s =>
      import s.implicits._
      val edges = Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(2L)), (Some(3L), None), (None, None), (None, Some(2L)))
        .toDF("a", "b")
      val df = resolve(s, edges)
      (df.schema, df.collect().map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet)
    }
    assert(out(0) == out(1))
    assert(out(0)._2 == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)), (None, None)))
    assert(out(0)._1.forall(_.nullable))
  }

  test("string ids take the loop on every session") {
    val out = sessions.map { s =>
      import s.implicits._
      val (df, iters) = ConnectedComponents.runWithStats(
        Seq(("b", "a"), ("c", "b"), ("y", "x"), ("z", "z")).toDF("a", "b"), "a", "b")
      assert(iters > 0)
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(out.forall(_ == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x", "z" -> "z")))
  }

  test("both regimes return the loop's columns, types and nullability") {
    val schemas = sessions.map { s =>
      import s.implicits._
      val ints = Seq((1, 2), (2, 3)).toDF("a", "b")
      Seq(ints, // non-null ints
        Seq((1L, 2L)).toDF("a", "b"),
        ints.select(col("a"), col("b").cast("long")), // int and long widen to long
        Seq((Option(1L), Option(2L))).toDF("a", "b"),
        ints.select(col("a").cast("short"), col("b").cast("byte"))
      ).map(resolve(s, _).schema)
    }
    assert(schemas(0) == schemas(1))
    assert(schemas(0).head.fieldNames.toSeq == Seq("node", "component"))
  }
}
