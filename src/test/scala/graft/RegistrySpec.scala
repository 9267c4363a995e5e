package graft

/** The driver-contract invariants plus a smoke run of every registered
  * query at sf0.001: nonempty, distinct column names, runnable, and no
  * CacheManager entry left behind. The
  * value-level gate is the DuckDB oracle (scripts/local_verify.py); this
  * suite catches regressions cheaply in `sbt test`.
  */
class RegistrySpec extends SparkSpec {

  test("query names are nonempty and oracle keys are a subset of queries") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    val missing = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  test("approx_count_distinct lands within 10% of exact at sf0.001") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val approx = ev.agg(approx_count_distinct(col("user_id"))).collect().head.getLong(0)
    val exact = ev.agg(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.10,
      s"approx=$approx exact=$exact")
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 with rows and distinct columns") {
      try {
        val df = fn(spark, sfDir)
        val cols = df.columns.toSeq
        assert(cols.distinct.size == cols.size, s"duplicate output columns: $cols")
        // Similarity pair-queries may legitimately be empty at the smallest
        // sf (fewer planted near-dups); everything else must return rows.
        val mayBeEmpty = Set("q_minhash_lsh", "q_ngram_jaccard", "q_simhash", "q_dedup_diag")
        if (!mayBeEmpty(name)) assert(df.count() > 0, s"$name returned 0 rows")
        else df.count() // still must execute
        // no query leaves a cached frame in the caller's session
        // (graft.ops.Lineage is the one materialization rule)
        assert(spark.sharedState.cacheManager.isEmpty, s"$name left a CacheManager entry")
      } finally spark.catalog.clearCache()
    }
  }
}
