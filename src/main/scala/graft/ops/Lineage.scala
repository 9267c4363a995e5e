package graft.ops

import org.apache.spark.sql.DataFrame

/** The one place the library materializes a frame. A builder pins an
  * intermediate when several consumers would otherwise recompute it; the
  * form follows from how long the pin must live:
  *
  *  - [[truncate]] — the frame feeds the RETURNED lazy plan, or the next
  *    round of an iterative loop (connected components, PageRank, label
  *    propagation). Eager; lineage is cut, so a loop's plan stays one
  *    round deep instead of doubling per round. The blocks are released
  *    by Spark's ContextCleaner once no live plan references the frame:
  *    no call site unpersists, and nothing lands in the CacheManager, so
  *    no caller's session holds a cached frame after the query returns.
  *  - [[pinned]] — the frame is read only by eager driver work inside the
  *    body (a `collect`/`count` loop, a write), and what the body returns
  *    holds no lazy reference to it. The frame is persisted for the
  *    body's duration and unpersisted in `finally`.
  *
  * Executor-loss recovery is one policy, chosen by the session conf flag
  * `spark.graft.reliableCheckpoint` and honored by [[truncate]] alone:
  *
  *  - default (`false`): `localCheckpoint()` — truncates lineage into
  *    executor-local block storage. Cheapest and exactly right on a
  *    single-node or preemption-free cluster, but the blocks live only on
  *    the executors that computed them: lose an executor mid-query and the
  *    query fails instead of recomputing (there is no lineage left to
  *    recompute from).
  *  - `true`: reliable `checkpoint()` — writes the truncated frame to the
  *    SparkContext checkpoint directory (HDFS/S3 on a real cluster), so an
  *    executor loss re-reads the checkpoint instead of killing the job.
  *    Costs a distributed-FS write per call; worth it exactly when
  *    executors are preemptible. The directory comes from
  *    `spark.graft.checkpointDir` if set (point it at durable storage on a
  *    cluster); otherwise a process-local temp directory is used so the
  *    mode is testable at local[n].
  */
object Lineage {
  /** Session-conf flag: "true" → reliable checkpoint(), else localCheckpoint(). */
  val FlagKey = "spark.graft.reliableCheckpoint"
  /** Checkpoint directory for reliable mode (set to HDFS/S3 on a cluster). */
  val DirKey = "spark.graft.checkpointDir"

  /** ACTUAL stored bytes of an eagerly-truncated frame (r16): after
    * [[truncate]] in localCheckpoint mode the frame is a LogicalRDD over
    * blocks registered with the BlockManager, so its true size is
    * available for free from the storage registry — unlike Catalyst's
    * `sizeInBytes`, which for a join-bearing plan multiplies through the
    * join and can overestimate by many orders of magnitude (the r15
    * PrefixSum width sizing's documented blind spot). Returns None when
    * no storage info exists (reliable-checkpoint mode, or an
    * un-truncated frame) — callers must treat that as "unknown", never
    * as zero. Note the registered size is the DESERIALIZED in-memory
    * size, an overestimate of raw bytes — safe for right-sizing
    * parallelism (errs wider).
    */
  def actualBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** Truncate `df`'s lineage eagerly, per the session's reliability flag. */
  def truncate(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val reliable = sess.conf.getOption(FlagKey).exists(_.toBoolean)
    if (!reliable) df.localCheckpoint()
    else {
      val sc = sess.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = sess.conf.getOption(DirKey).getOrElse(
          java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
        sc.setCheckpointDir(dir)
      }
      df.checkpoint()
    }
  }

  /** Run `body` with `df` persisted, and unpersist it when `body` returns
    * or throws. The first action inside `body` materializes the blocks;
    * later actions read them. `body`'s result must not be a lazy plan
    * over the pinned frame: once the pin is released, such a plan would
    * silently recompute it. The CacheManager keys entries by plan, so a
    * frame whose plan the caller has already cached is read from that
    * entry and left cached.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) body(df)
    else {
      val p = df.persist()
      try body(p) finally p.unpersist()
    }
}
