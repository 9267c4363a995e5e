package graft.ops

import graft.SparkSpec
import graft.queries.SimilarityQueries

/** The demonstration-scale fail-fast guard (r10 verdict item #1): the two
  * registry configs with documented quadratic walls (q_embedding_neardup's
  * fixed 8-bit bands, q_semdedup's fixed k = 64) must REFUSE to run above
  * demonstration scale — naming the sizing rule and the scale-correct twin
  * — instead of OOMing ten minutes in, and must stay green at gate scales
  * and under the explicit override.
  */
class ScaleGuardSpec extends SparkSpec {

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** A parquet table of `n` rows in two files; its path. */
  private def table(n: Long): String = {
    val path = s"${tmpDir("scaleguard")}/t.parquet"
    spark.range(0, n, 1, 2).write.parquet(path)
    path
  }
  private lazy val big = table(ScaleGuard.DefaultMaxRows + 1)
  private lazy val atMax = table(ScaleGuard.DefaultMaxRows)
  private lazy val one = table(1)

  test("check throws above the threshold, naming rule and twin") {
    val e = intercept[IllegalStateException] {
      ScaleGuard.check(spark, big, "q_demo", "fixed params go quadratic", "q_demo_scaled")
    }
    assert(e.getMessage.contains("q_demo_scaled"))
    assert(e.getMessage.contains("fixed params go quadratic"))
    assert(e.getMessage.contains(ScaleGuard.AllowKey))
    assert(e.getMessage.contains(s"${ScaleGuard.DefaultMaxRows + 1} rows"))
  }

  test("check passes at or below the threshold") {
    ScaleGuard.check(spark, atMax, "q_demo", "rule", "twin")
  }

  test("check sums the parquet footers on the driver and starts no Spark job") {
    assert(graft.Tables.rowCount(spark, big) == spark.read.parquet(big).count())
    assert(atMax.nonEmpty) // written before the count starts
    val jobs = jobsIn {
      intercept[ScaleGuardRefusal](ScaleGuard.check(spark, big, "q_demo", "rule", "twin"))
      ScaleGuard.check(spark, atMax, "q_demo", "rule", "twin")
    }
    assert(jobs == 0)
  }

  test("allowDemoScale=true skips the guard entirely") {
    withConf(ScaleGuard.AllowKey -> "true") {
      ScaleGuard.check(spark, big, "q_demo", "rule", "twin")
    }
  }

  test("q_embedding_neardup fires the guard at a synthetic 100x threshold") {
    // sf0.001's embeddings table exceeds a lowered threshold: the real
    // query path must throw BEFORE building the quadratic plan, and the
    // error must point at the scale twin
    withConf(ScaleGuard.MaxRowsKey -> "10") {
      val e = intercept[IllegalStateException] {
        SimilarityQueries.qEmbeddingNeardup(spark, sfDir)
      }
      assert(e.getMessage.contains("q_embedding_neardup_scaled"))
      assert(e.getMessage.contains("band"))
    }
  }

  test("q_semdedup fires the guard at a synthetic 100x threshold") {
    withConf(ScaleGuard.MaxRowsKey -> "10") {
      val e = intercept[IllegalStateException] {
        SimilarityQueries.qSemdedup(spark, sfDir)
      }
      assert(e.getMessage.contains("q_semdedup_scaled"))
      assert(e.getMessage.contains("k ∝ N") || e.getMessage.contains("quadratic"))
    }
  }

  test("the override lets the demo configs run even above the threshold") {
    withConf(ScaleGuard.MaxRowsKey -> "10", ScaleGuard.AllowKey -> "true") {
      // plan construction passes the guard; a one-row take proves the
      // config still executes at gate scale
      assert(SimilarityQueries.qEmbeddingNeardup(spark, sfDir).take(1).nonEmpty)
    }
  }

  test("gate scales pass the default threshold (no conf set)") {
    // the sf0.001/sf0.01/sf0.1 gates must keep running the demo configs:
    // plan construction alone exercises the pre-flight row count
    SimilarityQueries.qEmbeddingNeardup(spark, sfDir)
    SimilarityQueries.qSemdedup(spark, sfDir)
  }

  test("a refusal is the dedicated ScaleGuardRefusal type (class, not message)") {
    // sweep harnesses classify guard skips by CLASS; an unrelated failure
    // quoting the guard's message must not be mistaken for a skip
    intercept[ScaleGuardRefusal] {
      ScaleGuard.check(spark, big, "q_demo", "rule", "twin")
    }
  }

  test("malformed conf values fail naming the key, not with a bare parse error") {
    withConf(ScaleGuard.AllowKey -> "1") {
      val e = intercept[IllegalArgumentException] {
        ScaleGuard.check(spark, one, "q_demo", "rule", "twin")
      }
      assert(e.getMessage.contains(ScaleGuard.AllowKey))
    }
    withConf(ScaleGuard.MaxRowsKey -> "lots") {
      val e = intercept[IllegalArgumentException] {
        ScaleGuard.check(spark, one, "q_demo", "rule", "twin")
      }
      assert(e.getMessage.contains(ScaleGuard.MaxRowsKey))
    }
  }

  test("no bare localCheckpoint in main source outside Lineage.scala") {
    // every lineage truncation must honor spark.graft.reliableCheckpoint
    // (r10 verdict item #2) — Lineage.truncate is the single doorway
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "run from the repo root")
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles.iterator.flatMap(walk) else Iterator(f)
    val offenders = walk(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Lineage.scala")
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        src.contains(".localCheckpoint()")
      }
      .map(_.getPath).toList
    assert(offenders.isEmpty, s"bare localCheckpoint() in: $offenders")
  }
}
