package graft.core

import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** Batch pipeline runner with optional per-stage checkpoint + replay —
  * the Spark re-expression of bert-runner.py.
  *
  * Reference semantics carried over (SURVEY.md §2.4 C3, §3.1):
  *  - cache_backend / replay flags (-r/-n/-c/-s, bert/runner/factory.py:36-42,
  *    bert/runner/manager.py:58-88): each stage's output may be materialized
  *    to `<checkpointDir>/<stage>` parquet; a later run can resume from any
  *    stage's checkpoint instead of recomputing the prefix.
  *  - retry loop (bert/runner/manager.py:158-206): per-stage `retries`
  *    re-run the materialization on driver-visible failure.
  *  - stage barrier (bert/runner/manager.py:217): with checkpoints each
  *    stage completes before the next starts, like the reference's
  *    process-join barrier. Without checkpoints the chain is one lazy plan
  *    and Spark's shuffle boundaries are the only barriers — strictly
  *    better (pipelined, optimized across stages).
  *
  * Scale: checkpoints are parquet tables (partitioned by the data's own
  * layout), not the reference's single S3 JSON object — a 100 TB
  * intermediate is just another distributed table.
  */
object Runner {

  /** Run lazily: compose and return the final plan. */
  def run(p: Pipeline): DataFrame = p.plan

  /** Run with materialized checkpoints: every stage writes
    * `<checkpointDir>/<stage>` and the next stage reads it back, so each
    * prefix is durable and independently inspectable (the reference's
    * done-queue tables, bert/deploy/utils.py:542-595).
    *
    * `replayFrom`: skip every stage before this name and seed from its
    * checkpoint (reference `-r -s <stage>`). Fails fast unless that
    * checkpoint was committed: an overwrite that failed part-way leaves a
    * directory without the writer's `_SUCCESS` marker, and replaying from
    * it would read an empty or partial stage.
    *
    * Each checkpoint is read back with the schema of the stage frame that
    * wrote it, so the read-back starts no schema-inference job; Spark makes
    * a given file-source schema nullable, which is what inference returns.
    * The replay seed has no stage frame; it takes its schema from the
    * checkpoint's parquet footer ([[graft.Tables.read]]), also without a job.
    */
  def runCheckpointed(
      spark: SparkSession,
      p: Pipeline,
      checkpointDir: String,
      replayFrom: Option[String] = None,
      runLogPath: Option[String] = None): DataFrame = {
    val names = p.stages.map(_.name)
    replayFrom.foreach { r =>
      require(names.contains(r), s"replayFrom stage '$r' not in pipeline $names")
    }
    val startIdx = replayFrom.map(names.indexOf).getOrElse(0)
    var current: DataFrame =
      if (startIdx == 0) p.source
      else {
        val prev = names(startIdx - 1)
        val path = s"$checkpointDir/$prev"
        require(exists(spark, s"$path/_SUCCESS"), s"replay checkpoint missing: $path")
        graft.Tables.read(spark, path)
      }
    val runId = java.util.UUID.randomUUID().toString
    p.stages.drop(startIdx).foreach { st =>
      val out = s"$checkpointDir/${st.name}"
      def materialize(): StructType = withRetries(st.retries, st.name) {
        val df = st(current)
        df.write.mode("overwrite").parquet(out)
        df.schema
      }
      // heartbeat/audit rows per stage (K4) when a run-log table is given
      val schema = runLogPath match {
        case Some(path) => graft.ops.RunLog.tracked(spark, path, runId, st.name)(materialize())
        case None => materialize()
      }
      current = spark.read.schema(schema).parquet(out)
    }
    current
  }

  /** Replay helper mirroring the reference's "fill work queue from cache":
    * read a stage's checkpoint without running anything. */
  def checkpointOf(spark: SparkSession, checkpointDir: String, stage: String): DataFrame =
    graft.Tables.read(spark, s"$checkpointDir/$stage")

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Retries non-fatal failures only: an interrupt, OOM or linkage error
    * propagates at once, unwrapped, and so does a cancelled Spark job
    * (someone asked it to stop; running it again would undo that). */
  private def withRetries[T](retries: Int, stage: String)(body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= retries) {
      try return body
      catch {
        case NonFatal(e) if !cancelled(e) =>
          last = e
          attempt += 1
      }
    }
    throw new RuntimeException(
      s"stage '$stage' failed after ${retries + 1} attempts: ${last.getMessage}", last)
  }

  /** A job cancellation anywhere in the cause chain (writers may wrap it). */
  private def cancelled(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => t.getCondition == "SPARK_JOB_CANCELLED"
      case _ => false
    }
}
