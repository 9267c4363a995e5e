package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Storage discipline: a query builder materializes only through
  * [[Lineage]], so a long registry sweep holds storage FLAT with no
  * harness help. Truncated frames are released by the ContextCleaner once
  * their plans are garbage; the memoized unigram lattice legitimately
  * survives, but must be CONSTANT across repeats, not per-run accumulation.
  */
class CacheDisciplineSpec extends SparkSpec {

  /** Persistent RDDs left once the ContextCleaner has released everything
    * unreachable: collect garbage until the count stops falling.
    */
  private def settledRddCount(): Int = {
    def count = spark.sparkContext.getPersistentRDDs.size
    var last = Int.MaxValue
    var now = count
    var tries = 0
    while (now < last && tries < 20) {
      last = now
      System.gc()
      Thread.sleep(500)
      now = count
      tries += 1
    }
    now
  }

  test("queries hold storage flat across repeats without clearCache") {
    val materializingQueries = Seq(
      "q_pagerank",        // per-round truncates
      "q_heavy_hitters",   // exact-count table
      "q_image_phash",     // fingerprint frame
      "q_unigram_refit"    // memoized lattice (survives by design)
    )
    def sweep(): Int = {
      materializingQueries.foreach { q =>
        graft.SparkEntry.queries(q)(spark, sfDir).foreach(_ => ())
        assert(spark.sharedState.cacheManager.isEmpty, s"$q left a CacheManager entry")
      }
      settledRddCount()
    }
    val afterFirst = sweep()
    val afterSecond = sweep()
    val afterThird = sweep()
    // first sweep may establish constant state (the unigram memo's
    // truncated frames); repeats must not add to it
    assert(afterSecond <= afterFirst,
      s"storage grew across sweeps: $afterFirst -> $afterSecond")
    assert(afterThird <= afterFirst,
      s"storage grew across sweeps: $afterFirst -> $afterThird")
  }

  test("only Lineage.scala under src/main caches or persists") {
    val needles = Seq(".cache()", ".persist(")
    val st = Files.walk(Paths.get("src/main"))
    val hits: Seq[Path] =
      try st.iterator().asScala
        .filter { p =>
          p.toString.endsWith(".scala") && {
            val src = Files.readString(p)
            needles.exists(src.contains)
          }
        }
        .toSeq
      finally st.close()
    assert(hits.map(_.getFileName.toString) == Seq("Lineage.scala"), hits.mkString(", "))
  }

  test("Lineage.pinned releases its own pin, not a caller's cache entry") {
    val df = spark.range(100).toDF("n")
    assert(Lineage.pinned(df)(_.count()) == 100L)
    assert(spark.sharedState.cacheManager.isEmpty)
    intercept[IllegalStateException] {
      Lineage.pinned(df) { p => p.count(); throw new IllegalStateException("body failed") }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    // a caller's own entry for the same plan is read, not evicted
    val mine = spark.range(100).toDF("n").cache()
    try {
      assert(Lineage.pinned(spark.range(100).toDF("n"))(_.count()) == 100L)
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally mine.unpersist()
  }
}
