package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Seeds

/** Pipeline/Runner semantics, mirroring the reference behaviors the SURVEY
  * calls out: the docs tutorial chain (100 seeds → squared), checkpoint +
  * replay-from-stage (C3), and retry-on-error (D8).
  */
class PipelineSpec extends SparkSpec {

  private def docsChain = Pipeline(Seeds.fromRange(spark, 100))
    .stage("calc")(df => df.withColumn("calculated_result", col("idx") * col("idx")))
    .stage("filter_even")(df => df.filter(col("calculated_result") % 2 === 0))

  test("docs example: 100 seeds → squared, 1→1 then filter") {
    val rows = docsChain.plan.collect()
    assert(rows.length == 50) // even squares come from even idx
    val m = rows.map(r => r.getAs[Long]("idx") -> r.getAs[Long]("calculated_result")).toMap
    assert(m(4L) == 16L && m(10L) == 100L)
  }

  test("stage names must be unique") {
    intercept[IllegalArgumentException] {
      Pipeline(Seeds.fromRange(spark, 1))
        .stage("a")(identity)
        .stage("a")(identity)
    }
  }

  test("1→N emit via explode matches reference flatMap semantics") {
    val p = Pipeline(Seeds.fromRange(spark, 10))
      .stage("fan_out")(df => df.select(col("idx"),
        explode(sequence(lit(0), col("idx"))).as("sub")))
    assert(p.plan.count() == (1 to 10).sum) // Σ (idx+1) for idx 0..9 = 55
  }

  test("checkpointed run writes per-stage parquet and replays from a stage") {
    val dir = tmpDir("ckpt")
    val out = Runner.runCheckpointed(spark, docsChain, dir)
    assert(out.count() == 50)
    // both stage checkpoints exist and are readable
    assert(Runner.checkpointOf(spark, dir, "calc").count() == 100)
    assert(Runner.checkpointOf(spark, dir, "filter_even").count() == 50)

    // replay from filter_even must NOT rerun calc: poison the calc stage
    val poisoned = Pipeline(Seeds.fromRange(spark, 100))
      .stage("calc")(_ => throw new RuntimeException("must not rerun"))
      .stage("filter_even")(df => df.filter(col("calculated_result") % 2 === 0))
    val replayed = Runner.runCheckpointed(spark, poisoned, dir, replayFrom = Some("filter_even"))
    assert(replayed.count() == 50)
  }

  test("replay from an unknown stage or missing checkpoint fails fast") {
    val dir = tmpDir("ckpt2")
    intercept[IllegalArgumentException] {
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("nope"))
    }
    intercept[IllegalArgumentException] {
      // valid stage name but nothing materialized yet
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("filter_even"))
    }
    // an overwrite that failed part-way leaves the directory but no
    // _SUCCESS marker: not a committed checkpoint either
    new java.io.File(s"$dir/calc").mkdirs()
    val e = intercept[IllegalArgumentException] {
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("filter_even"))
    }
    assert(e.getMessage.contains("replay checkpoint missing"))
  }

  test("retry-on-error: stage succeeds on attempt 3 of max 10") {
    val dir = tmpDir("retry")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = Pipeline(Seeds.fromRange(spark, 5))
      .stage("flaky", retries = 10) { df =>
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
        df
      }
    assert(Runner.runCheckpointed(spark, flaky, dir).count() == 5)
    assert(attempts.get() == 3)
  }

  test("retry-on-error: permanent failure surfaces after retries exhausted") {
    val dir = tmpDir("retry2")
    val broken = Pipeline(Seeds.fromRange(spark, 5))
      .stage("broken", retries = 2)(_ => throw new RuntimeException("permanent"))
    val e = intercept[RuntimeException] {
      Runner.runCheckpointed(spark, broken, dir)
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("retry-on-error: a fatal error runs once and propagates unwrapped") {
    val dir = tmpDir("retry3")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val interrupted = Pipeline(Seeds.fromRange(spark, 5))
      .stage("interrupted", retries = 3) { _ =>
        attempts.incrementAndGet()
        throw new InterruptedException("cancelled")
      }
    intercept[InterruptedException] {
      Runner.runCheckpointed(spark, interrupted, dir)
    }
    assert(attempts.get() == 1)
  }

  test("typed stage maps Dataset[A] => Dataset[B] inside a pipeline") {
    import spark.implicits._
    val p = Pipeline(Seeds.fromRange(spark, 10))
      .follow(Stage.typed[Long, (Long, Long)]("square_typed") { ds =>
        ds.map(i => (i, i * i))
      })
    val rows = p.plan.collect()
    assert(rows.length == 10)
    assert(rows.map(r => r.getLong(1)).sorted.last == 81)
  }

  test("sink clear removes a checkpoint directory (queue flush)") {
    val dir = tmpDir("flush")
    graft.io.Sinks.overwrite(Seeds.fromRange(spark, 3), s"$dir/q")
    assert(graft.io.Sinks.clear(spark, s"$dir/q"))
    assert(!graft.io.Sinks.clear(spark, s"$dir/q")) // already gone
  }

  test("checkpointed run writes run-log entries per stage when asked") {
    val dir = tmpDir("ckpt-log")
    val logPath = s"$dir/runlog"
    Runner.runCheckpointed(spark, docsChain, s"$dir/ck", runLogPath = Some(logPath))
    val statuses = spark.read.parquet(logPath)
      .collect().map(r => (r.getAs[String]("stage"), r.getAs[String]("status")))
    assert(statuses.count(_._2 == "succeeded") == 2)
    assert(statuses.map(_._1).toSet == Set("calc", "filter_even"))
  }

  test("lazy plan and checkpointed run produce identical results") {
    val dir = tmpDir("diff")
    val lazyRows = docsChain.plan.collect()
      .map(r => (r.getLong(r.fieldIndex("idx")), r.getLong(r.fieldIndex("calculated_result"))))
      .toSet
    val ckptRows = Runner.runCheckpointed(spark, docsChain, dir).collect()
      .map(r => (r.getLong(r.fieldIndex("idx")), r.getLong(r.fieldIndex("calculated_result"))))
      .toSet
    assert(lazyRows == ckptRows)
  }

  test("stage parallelism repartitions its input (workers=N parity)") {
    val p = Pipeline(Seeds.fromRange(spark, 100).repartition(2))
      .follow(Stage("fan", df => df.withColumn("parts", spark_partition_id()),
        parallelism = Some(7)))
    assert(p.plan.select("parts").distinct().count() == 7)
  }

  test("barrier stage coalesces to one partition (BOTTLE)") {
    val p = Pipeline(Seeds.fromRange(spark, 100).repartition(8))
      .stage("bottle", barrier = true)(df => df.withColumn("parts", spark_partition_id()))
    val parts = p.plan.select("parts").distinct().count()
    assert(parts == 1)
  }
}
