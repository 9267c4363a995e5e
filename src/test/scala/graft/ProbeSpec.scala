package graft

import graft.ops.ScaleGuard

class ProbeSpec extends SparkSpec {

  test("q3_join record: rows match count(), jobs counted, joins read from the final plan") {
    val r = Probe.record(spark, "q3_join", sfDir)
    assert(r.status == "ok", r.error)
    assert(r.rows == SparkEntry.queries("q3_join")(spark, sfDir).count())
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1)
    assert(r.joins.nonEmpty, r.plan)
    assert(r.plan.contains("Join"))
    assert(r.maxTaskShare > 0 && r.maxTaskShare <= 1, r.json)
    assert(r.json.contains(""""max_task_share":"""))
    assert(r.json.contains(s""""codegen_compiles":${r.codegenCompiles},"""))
    assert(r.json.startsWith("""{"query":"q3_join","status":"ok","""))
  }

  test("the timed run of a batch query compiles no class its untimed run compiled") {
    val r = Probe.record(spark, "q_cosine_topk", sfDir)
    assert(r.status == "ok", r.error)
    assert(r.codegenCompiles == 0, r.json)
  }

  test("q_stream_tumbling record counts its micro-batches") {
    val r = Probe.record(spark, "q_stream_tumbling", sfDir)
    assert(r.status == "ok", r.error)
    assert(r.batchMs.nonEmpty)
    assert(r.json.contains(s""""batches":${r.batchMs.size},"""))
  }

  test("a ScaleGuard refusal is recorded as a skip, not a failure") {
    spark.conf.set(ScaleGuard.MaxRowsKey, "1")
    val r =
      try Probe.record(spark, "q_embedding_neardup", sfDir)
      finally spark.conf.unset(ScaleGuard.MaxRowsKey)
    assert(r.status == "skip", r.error)
    assert(r.error.contains("DEMONSTRATION-SCALE"))
  }

  test("an unknown query name fails before any session is built") {
    val e = intercept[IllegalArgumentException] {
      Probe.run(Seq("q3_join", "q_no_such_query"))(fail("session built before the names were checked"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(Probe.select(Seq("q3_join", "q1_agg")) == Seq("q3_join", "q1_agg"))
    assert(Probe.select(Seq("all")) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
