package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Prefix filtering is a pruning, not an approximation: its output must be
  * BIT-IDENTICAL to brute-force all-pairs at the same threshold. Proven
  * differentially on the real corpus (not synthetic rows), at two
  * thresholds, plus edge cases.
  */
class PrefixFilterJoinSpec extends SparkSpec {

  private def postings(dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** Brute force: every pair via a full token equi-join (no prefix, no
    * length filter) — quadratic, test-scale only. */
  private def brute(p: DataFrame, tNum: Int, tDen: Int): Set[(Long, Long, Long)] = {
    val sizes = p.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    p.as("a").join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .filter(col("inter") * tDen >= (col("n_a") + col("n_b") - col("inter")) * tNum)
      .select(col("id_a"), col("id_b"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def pruned(p: DataFrame, tNum: Int, tDen: Int): Set[(Long, Long, Long)] =
    PrefixFilterJoin.jaccardSelfJoin(p, "doc_id", "tok", tNum, tDen)
      .select(col("id_a"), col("id_b"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("prefix-filtered join ≡ brute force at t=0.6 on the corpus") {
    Lineage.pinned(postings(sfDir)) { p =>
      val b = brute(p, 6, 10)
      assert(pruned(p, 6, 10) === b)
      assert(b.nonEmpty, "threshold too high for the corpus — gate would be vacuous")
    }
  }

  test("prefix-filtered join ≡ brute force at t=0.3 (wider candidate set)") {
    // a corpus slice: brute force at t=0.3 over the full corpus is minutes
    // of all-pairs; a third of the docs exercises the same arithmetic
    Lineage.pinned(postings(sfDir).filter(col("doc_id") % 3 === 0)) { p =>
      assert(pruned(p, 3, 10) === brute(p, 3, 10))
    }
  }

  test("t=1 finds exactly the identical token sets") {
    import spark.implicits._
    val p = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), // 1 ≡ 2
      (3L, "a"), (3L, "c"), (4L, "d")
    ).toDF("doc_id", "tok")
    assert(pruned(p, 1, 1) === Set((1L, 2L, 2L)))
  }

  test("property: pruned ≡ in-JVM brute force on random set families") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      nDocs <- Gen.chooseNum(2, 12)
      vocab <- Gen.chooseNum(3, 10)
      sets <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(Gen.chooseNum(0, 100))
        .map(_.map(i => s"t${i % vocab}").distinct))
      t <- Gen.oneOf((1, 2), (6, 10), (3, 4), (1, 1))
    } yield (sets, t)
    val prop = Prop.forAllNoShrink(gen) { case (sets, (tn, td)) =>
      val postings = sets.zipWithIndex
        .flatMap { case (tk, i) => tk.map(tok => (i.toLong, tok)) }
      val expected = (for {
        (a, i) <- sets.zipWithIndex; (b, j) <- sets.zipWithIndex if i < j
        inter = a.toSet.intersect(b.toSet).size
        if inter * td >= (a.size + b.size - inter) * tn
      } yield (i.toLong, j.toLong, inter.toLong)).toSet
      val got = PrefixFilterJoin
        .jaccardSelfJoin(postings.toDF("doc_id", "tok"), "doc_id", "tok", tn, td)
        .select(col("id_a"), col("id_b"), col("inter"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status.toString)
  }

  test("invalid thresholds are rejected") {
    import spark.implicits._
    val p = Seq((1L, "a")).toDF("doc_id", "tok")
    intercept[IllegalArgumentException] {
      PrefixFilterJoin.jaccardSelfJoin(p, "doc_id", "tok", 11, 10)
    }
    intercept[IllegalArgumentException] {
      PrefixFilterJoin.jaccardSelfJoin(p, "doc_id", "tok", 0, 10)
    }
  }
}
