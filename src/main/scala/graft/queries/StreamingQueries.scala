package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

import scala.jdk.CollectionConverters._

import graft.ops.Scratch
import Exact._

/** Streaming execution gated by the BATCH oracle: the query runs as a real
  * Structured Streaming job (file source → windowed aggregate → memory
  * sink, AvailableNow drain), and its final state must hash-match DuckDB's
  * batch answer over the same parquet. This is the strongest streaming
  * evidence the gate can express: not "streaming code exists" but
  * "streaming execution produces the exact batch-equivalent result"
  * (Dataflow-model consistency).
  */
object StreamingQueries {

  /** One streaming reader over the events table (file source over the sf
    * dir filtered to events.parquet — production streams a landing
    * directory), nanosecond timestamps truncated to microseconds exactly
    * as DuckDB truncates them. Callable more than once: a stream-stream
    * self-join needs two independent sources. ONE copy of the source
    * plumbing so a ts-conversion fix lands everywhere at once.
    */
  /** File-stream a table that may be EITHER a single parquet file (the
    * driver's sf layout) or a directory of part files (any real warehouse
    * layout, the 100x rehearsal's ScaleUp output). The two need different
    * source spellings: a directory streams directly (the file source
    * requires a directory basePath), while a single file must be reached
    * as dir + pathGlobFilter. Conflating them is the silent-zero trap the
    * r11 rehearsal caught: pathGlobFilter matches leaf FILE names only,
    * so over a directory-shaped table it matches nothing and every drain
    * "succeeds" on zero rows (exposed as an nq=0 divide-by-zero once
    * q_stream_drift derived cohort totals from the drained side).
    */
  private def streamTable(s: SparkSession, dir: String, table: String,
                          schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // Layout detection via the Hadoop FileSystem API, NOT java.nio: nio only
    // answers for local paths, so an hdfs:// or s3a:// warehouse dir would
    // have silently fallen into the glob branch — re-creating the exact
    // zero-rows drain this helper exists to prevent (r12 advice item). The
    // FS resolved here is by construction the one the stream source reads.
    val path = new org.apache.hadoop.fs.Path(dir, table)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    val rd = s.readStream.schema(schema)
    if (fs.exists(path) && fs.getFileStatus(path).isDirectory) rd.parquet(path.toString)
    else rd.option("pathGlobFilter", table).parquet(dir)
  }

  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.nanosAsLong(s)
    val schema = graft.Tables.read(s, s"$dir/events.parquet").schema
    val raw = streamTable(s, dir, "events.parquet", schema)
    val fixed =
      if (schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else raw
    graft.Tables.ntzToLtz(fixed)
  }

  /** Analyzed logical plan of each drained streaming frame, keyed by sink
    * name — recorded so PlanSpec can apply the corpus-broadcast-hint guard
    * to streaming queries too (their registry fn returns a memory-table
    * read, which carries no trace of the per-micro-batch join plan, and a
    * forced corpus broadcast inside a stream would otherwise be the one
    * un-guarded 100-TB scale-killer left).
    */
  val analyzedPlans =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()

  /** Drain width: a streaming query's state-store partition count is
    * frozen from `spark.sql.shuffle.partitions` at first start (per
    * checkpoint), and every micro-batch then pays per-partition
    * state-store open/commit REGARDLESS of data volume — so the right
    * width is a function of drained volume, not a constant. Narrow (8)
    * for bench-scale drains, where the fixed cost dominates and 8 vs 32
    * partitions is a ~4× trigger-cost cut; full session width for big
    * drains, where state work dominates and narrowing would serialize it
    * (the r11 honest 100× rehearsal measured q_stream_session pushing
    * 10 M events through 8 state partitions). On-disk source bytes are
    * the free, layout-agnostic volume proxy; streaming semantics are
    * partition-count-invariant either way, so this is a harness tune,
    * never a semantic knob.
    */
  private def drainWidth(s: SparkSession, dir: String, tables: String*): Int = {
    // Hadoop FS (not java.nio) for the same reason as [[streamTable]]: on a
    // non-local warehouse nio reports 0 bytes and every drain would run at
    // the narrow bench width. getContentSummary handles file + directory.
    def bytes(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir, t)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    if (tables.map(bytes).sum > (64L << 20)) s.sparkContext.defaultParallelism else 8
  }

  /** Root for the drains' THROWAWAY checkpoints. These checkpoints carry
    * no durability contract by construction: the sink is in-memory, the
    * trigger is AvailableNow, and the directory is created fresh per drain
    * and never resumed (a memory sink cannot be resumed into anyway) — the
    * checkpoint exists only because the streaming engine requires one. So
    * the state-store delta files and WAL/offset commits it fsyncs per
    * micro-batch are pure fixed cost on a real disk. Root them on tmpfs
    * (/dev/shm) when present: measured on the r12 box this cuts the
    * per-drain state-store lifecycle cost (the 0.6–0.9 s addBatch slice of
    * the per-batch durationMs breakdown) without touching semantics.
    * `spark.graft.streamCkptRoot` pins it elsewhere; production users
    * writing REAL sinks own their own checkpointLocation entirely.
    */
  private def ckptRoot(s: SparkSession): java.nio.file.Path = {
    val conf = s.conf.getOption("spark.graft.streamCkptRoot")
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = conf.map(java.nio.file.Paths.get(_)).getOrElse(
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(root)
    root
  }

  /** Drain a streaming frame with AvailableNow into a named memory sink
    * and return the final table — ONE copy of the sink/checkpoint plumbing
    * (width: see [[drainWidth]]; checkpoint placement: see [[ckptRoot]]).
    */
  /** Per-batch checkpoint-file checksums (Spark 4.1's
    * ChecksumCheckpointFileManager) are corruption DETECTION for durable
    * checkpoints on real storage — on these THROWAWAY tmpfs checkpoints
    * (see [[ckptRoot]]: created fresh per drain, deleted right after,
    * resumable into nothing) they are pure per-batch fixed cost, and a
    * large one: every state-store delta, offset-log and commit-log write
    * dispatches a checksum computation to a side thread pool and AWAITS
    * it — the r16 stack-sampler probe caught the state-store tasks of a
    * 3-row micro-batch parked in `ChecksumCheckpointFileManager`'s
    * awaitResult for most of their ~270 ms executor time. Disabled ONLY
    * around the drains over the graft-owned throwaway checkpoint (saved
    * + restored like the width conf); production callers own their real
    * checkpointLocation and session conf. Semantics are untouched —
    * checksums never change what a batch computes, only whether a
    * corrupted checkpoint file is detected on read-back.
    */
  private val ckptChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** Checkpoint-manager choice for the SAME throwaway checkpoints: the
    * default FileContext-based manager routes every per-batch rename
    * (state deltas, offset log, commit log) through Hadoop's
    * DelegateToFileSystem, whose local-FS rename FORKS A SHELL (`readlink`
    * via RawLocalFileSystem.getFileLinkStatus) per call — the r16 stack
    * sampler caught hundreds of `Shell.runCommand < FileSystem.rename`
    * frames inside 3-row micro-batches, tens of ms (plus a forked process)
    * per rename. The FileSystem-based manager renames via
    * `File.renameTo` — the rename(2) syscall, atomic on a local/tmpfs
    * path, no fork. Scoped to the graft-owned throwaway checkpoints
    * exactly like [[ckptChecksumKey]]; production checkpoints on HDFS/S3
    * keep the default manager (there FileContext's atomicity reasoning is
    * the point).
    */
  private val ckptManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val fsCkptManager = classOf[FileSystemBasedCheckpointFileManager].getName

  /** Set the throwaway-drain session confs (drain width + tmpfs-checkpoint
    * cost cuts), run `body`, restore every conf to its previous state. */
  private[queries] def withDrainConfs[A](sess: SparkSession, width: Int)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions" -> width.toString,
      ckptChecksumKey -> "false", ckptManagerKey -> fsCkptManager)
    // getAll holds only explicitly set keys; getOption would report a
    // default as set, and the restore would then pin it into the conf.
    val explicit = sess.conf.getAll
    val prev = keys.map { case (k, _) => k -> explicit.get(k) }
    keys.foreach { case (k, v) => sess.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None) => sess.conf.unset(k)
    }
  }

  /** Unload the drained query's state-store providers once its throwaway
    * checkpoint is gone. Loaded providers are a JVM-lifetime registry:
    * every drain (fresh checkpoint dir = fresh provider ids) ADDS
    * per-partition providers that the shared maintenance thread keeps
    * visiting — over a 24-gate sweep (×2 bench samples) that is hundreds
    * of dead providers whose in-memory version maps pin heap and whose
    * maintenance churns against deleted directories. A finished drain's
    * providers can never be read again (the checkpoint is deleted);
    * dropping them is pure hygiene. Only called with no other streaming
    * query active in the session (the registry gates run one at a time).
    */
  private def unloadDeadStateStores(): Unit =
    try org.apache.spark.sql.graft.PlanBridge.unloadAllStateStores()
    catch { case scala.util.control.NonFatal(_) => () }

  private def drainToMemory(df: DataFrame, name: String, outputMode: String,
                            width: Int = 8): DataFrame = {
    analyzedPlans(name) = df.queryExecution.analyzed
    val sess0 = df.sparkSession
    val ckptDir = java.nio.file.Files.createTempDirectory(ckptRoot(sess0), s"${name}_ckpt")
    val ckpt = ckptDir.toString
    val sess = df.sparkSession
    try {
      withDrainConfs(sess, width) {
        val q = df.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    } finally {
      // tmpfs is RAM: drop the drained query's throwaway checkpoint now
      // (the memory-sink table is independent of it) so an 11-drain sweep
      // doesn't retire state deltas into memory for the process lifetime
      Scratch.rm(ckptDir)
      unloadDeadStateStores()
    }
    // The memory sink registered `name` as a temp view on the caller's
    // session. The frame resolves it now and keeps the sink's MemoryPlan,
    // so the view is dropped before returning.
    val out = sess.table(name)
    sess.catalog.dropTempView(name)
    out
  }

  private def runEventStream(s: SparkSession, dir: String, name: String,
                             outputMode: String)
                            (transform: DataFrame => DataFrame): DataFrame =
    drainToMemory(transform(eventStream(s, dir)), name, outputMode,
      width = drainWidth(s, dir, "events.parquet"))

  /** Tumbling 1-hour purchase/click value totals, computed by a streaming
    * query in complete mode. Complete-mode final state after AvailableNow ≡
    * the batch aggregate by construction; exactness comes from the same
    * decimal accumulation as every batch query.
    */
  def qStreamTumbling(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_tumbling", "complete") { events =>
      events
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    }

  val qStreamTumblingSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('purchase', 'click')
      |GROUP BY 1, 2""".stripMargin

  /** Streaming exact-dedup gated by the batch DISTINCT oracle: the
    * watermark horizon exceeds the data's time span, so
    * dropDuplicatesWithinWatermark must emit each (user_id, event_type)
    * exactly once — projecting only the key columns makes the output
    * deterministic regardless of which physical row survived.
    */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_dedup", "append") { events =>
      events
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }

  val qStreamDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Sliding 2-hour windows advancing hourly — every event lands in TWO
    * overlapping windows, the shape Spark's window(slide) duplicates rows
    * for. The oracle replicates the overlap by unnesting each event into
    * both covering window starts (epoch-aligned, same as Spark's).
    */
  def qStreamSliding(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_sliding", "complete") { events =>
      events
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    }

  val qStreamSlidingSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) - o * INTERVAL '1 hour' AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      |FROM events, UNNEST([0, 1]) AS u(o)
      |WHERE event_type IN ('purchase', 'click')
      |GROUP BY 1, 2""".stripMargin

  /** Session windows (30-minute gap) per user as a streaming job — the
    * state-merging window kind. Spark's session semantics (verified
    * empirically): an event exactly gap after the previous one still
    * MERGES — the session interval is [start, last + gap] inclusive at the
    * probe — so a new session begins only at diff > gap; the oracle
    * replays exactly that rule with lag() on microsecond epochs (same µs
    * truncation both engines apply to the nanosecond source timestamps).
    */
  def qStreamSession(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_session", "complete") { events =>
      events
        .withWatermark("ts", "365 days")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"))
    }

  val qStreamSessionSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |g AS (SELECT user_id, us,
      |        CASE WHEN us - LAG(us, 1) OVER w > 1800000000 THEN 1
      |             WHEN LAG(us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS gap
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |sess AS (SELECT user_id, us,
      |           SUM(gap) OVER (PARTITION BY user_id ORDER BY us
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |         FROM g)
      |SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** Dynamic-gap sessionization — session_window with a PER-ROW gap
    * expression (clicks time out after 10 minutes, everything else after
    * 45), the session-state shape fixed-gap windows cannot express and a
    * real engine differentiator (per-event-class engagement timeouts).
    * Run as a real streaming aggregate; the oracle replicates Spark's
    * merge rule exactly — sort by start, union intervals [us, us+gap),
    * break when a row's start is >= the running max end (touching windows
    * do NOT merge) — in exact integer microseconds. Scale: state is one
    * interval per open session per user, sharded by the groupBy key like
    * any streaming aggregation.
    */
  def qStreamSessionDynamic(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_session_dyn", "complete") { events =>
      events
        .withWatermark("ts", "365 days")
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "click", "10 minutes")
            .otherwise("45 minutes")).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w").getField("start")).as("session_start_us"),
          unix_micros(col("w").getField("end")).as("session_end_us"),
          col("n_events"))
    }

  val qStreamSessionDynamicSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |             us + CASE WHEN event_type = 'click' THEN 600000000
      |                       ELSE 2700000000 END AS e_us
      |           FROM events),
      |g AS (SELECT user_id, event_id, us, e_us,
      |        CASE WHEN MAX(e_us) OVER (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL THEN 1
      |             WHEN us >= MAX(e_us) OVER (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1
      |             ELSE 0 END AS brk
      |      FROM e),
      |sess AS (SELECT user_id, us, e_us,
      |           SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |         FROM g)
      |SELECT user_id, MIN(us) AS session_start_us, MAX(e_us) AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** Arbitrary keyed state via flatMapGroupsWithState — the general-state
    * primitive (per-user counters/models the built-in windows can't hold),
    * run as a REAL streaming job and gated by the batch oracle. Each
    * micro-batch updates (n, Σvalue, last-seen) per user and emits the new
    * state; the final state per key must equal the batch aggregate however
    * the source was batched, so the post-drain read keeps, atomically, the
    * update with the highest n (a whole-struct max — n strictly grows, so
    * that IS the final state; taking per-column maxes could mix updates).
    * Money values cross the typed boundary as scale-4 integers (exact long
    * adds in state; both engines then divide the identical integer by 1e4
    * in double). State is bounded by key cardinality, checkpointed
    * exactly-once; at 100 TB the state store shards by key like any
    * shuffle.
    */
  def qStreamCustomState(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val updates = runEventStream(s, dir, "graft_stream_custom_state", "update") { events =>
      events
        .select(col("user_id"),
          expr("CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT)").as("v_scaled"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long, Long)], st: GroupState[(Long, Long, Long)]) =>
            var (n, sum, last) = st.getOption.getOrElse((0L, 0L, Long.MinValue))
            rows.foreach { case (_, v, us) =>
              n += 1; sum += v; if (us > last) last = us
            }
            st.update((n, sum, last))
            Iterator((user, n, sum, last))
        }
        .toDF("user_id", "n_events", "sum_scaled", "last_us")
    }
    updates
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("sum_scaled"), col("last_us"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        (col("m.sum_scaled").cast("double") / lit(10000.0d)).as("sum_value"),
        col("m.last_us").as("last_us"))
  }

  val qStreamCustomStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sum_value,
      |  MAX(epoch_us(ts)) AS last_us
      |FROM events GROUP BY user_id""".stripMargin

  /** Stream-stream inner join with watermark-bounded state — last-hour
    * click→purchase attribution: each purchase joins the SAME USER's
    * clicks in the preceding hour. Both sides are real streams (two
    * readers over the landing dir); the event-time range condition plus
    * per-side watermarks is exactly what lets Spark expire join state —
    * without them a stream-stream join buffers both streams forever. The
    * drained append output must equal the batch join, hash-checked via the
    * DuckDB oracle. State at 100 TB/day: each side holds only rows younger
    * than watermark+range, sharded by the equi key like any shuffle.
    */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventStream(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = eventStream(s, dir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
    // stream-stream joins run FOUR state stores per partition (left/right
    // x keyToNumValues/keyWithIndexToValue) and an extra watermark-
    // finalization micro-batch, so the per-partition fixed cost is ~4x a
    // stateful agg's: halve the drain width for this shape (same
    // local-harness tune as the 8 above, not a semantic knob)
    drainToMemory(joined, "graft_stream_join", "append",
      width = math.max(4, drainWidth(s, dir, "events.parquet") / 2))
  }

  val qStreamJoinSql: String =
    """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      |      FROM events WHERE event_type = 'click')
      |SELECT p.user_id, purchase_id, click_id, p_us, c_us
      |FROM p JOIN c ON p.user_id = c.user_id
      | AND c_us >= p_us - 3600000000 AND c_us <= p_us""".stripMargin

  /** Stream-static enrichment join — the dimension-lookup shape every
    * streaming pipeline has (events stream ⋈ slowly-changing dim table):
    * the static side is a batch DataFrame joined into every micro-batch,
    * no state store involved (unlike stream-stream joins), then a running
    * per-nation aggregate in complete mode. Gated against the plain batch
    * join+aggregate in DuckDB. Scale: NO broadcast hint on the static side
    * — customer is a semi-fact (this repo refuses the same hint in
    * q5_multi_join for the same reason), and a mandatory broadcast would
    * OOM every micro-batch at 100 TB. The batch planner sizes the static
    * side per micro-batch: below the autoBroadcastJoinThreshold it
    * broadcasts on its own; above it, a shuffled join is the right call.
    * PlanSpec's corpus-broadcast guard now covers streaming micro-batch
    * plans, so this can't regress silently.
    */
  def qStreamEnrich(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_enrich", "complete") { events =>
      val dim = graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      events.join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    }

  val qStreamEnrichSql: String =
    """SELECT c_nationkey, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_nationkey""".stripMargin

  /** The curation chain's streaming twin (q_curation_pipeline is the batch
    * flagship): documents arrive as a file stream, pass the same quality +
    * language gates, and a streaming (lang, canonical-form) aggregate
    * carries the dedup state; the drained complete-mode table then rolls
    * up per language — distinct canonical forms, gated docs, and the
    * duplicate count a keep-one policy would drop. The rollup is over the
    * (lang, hash) COUNTS, which are arrival-order INVARIANT — gating a
    * survivor-dependent attribute (a particular doc's n_chars) would make
    * the streaming result depend on file order, which is exactly the
    * nondeterminism a correctness gate must not encode. Scale: dedup
    * state is one row per distinct canonical form (the minimum any exact
    * streaming dedup carries); gates are stateless and fuse into the scan.
    */
  def qStreamCuration(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(s, s"$dir/documents.parquet").schema
    val docs = streamTable(s, dir, "documents.parquet", schema)
    val norm = sha2(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "), 256)
    val perForm = docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_chars") >= 50 && col("n_tokens") >= 10)
      .filter(col("lang").isin("en", "de", "fr", "es"))
      .withColumn("norm_hash", norm)
      .groupBy(col("lang"), col("norm_hash"))
      .agg(count(lit(1)).as("c"))
    drainToMemory(perForm, "graft_stream_curation", "complete",
      width = drainWidth(s, dir, "documents.parquet"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_forms"),
        sum(col("c")).cast("bigint").as("n_docs"),
        (sum(col("c")) - count(lit(1))).cast("bigint").as("n_dups"))
  }

  val qStreamCurationSql: String =
    """WITH q AS (SELECT lang,
      |        sha256(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_hash
      |      FROM documents
      |      WHERE n_chars >= 50 AND len(string_split(text, ' ')) >= 10
      |        AND lang IN ('en', 'de', 'fr', 'es')),
      |g AS (SELECT lang, norm_hash, COUNT(*) AS c FROM q GROUP BY 1, 2)
      |SELECT lang, COUNT(*) AS n_forms, CAST(SUM(c) AS BIGINT) AS n_docs,
      |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dups
      |FROM g GROUP BY lang""".stripMargin

  /** Streaming OHLC bars — q_ohlc's STREAMING twin: hourly open/high/low/
    * close/volume per event type as a complete-mode windowed aggregate.
    * Open/close use min_by/max_by over the TOTAL (ts, event_id) struct
    * order, which makes the final state arrival-order-INVARIANT — any
    * micro-batch slicing folds to the same extremes (the batch query picks
    * the same rows via window row_number; both are the unique order
    * minimum/maximum). Volume is the same decimal accumulation as every
    * batch sum. Gated against the IDENTICAL batch oracle as q_ohlc.
    */
  def qStreamOhlc(s: SparkSession, dir: String): DataFrame =
    runEventStream(s, dir, "graft_stream_ohlc", "complete") { events =>
      events
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          dsum(col("value")).as("volume"))
        .select(col("event_type"), col("w.start").as("bar"), col("n"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
    }

  val qStreamOhlcSql: String =
    """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar, ts, event_id, value,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts ASC, event_id ASC) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type, bar, COUNT(*) AS n,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS volume
      |FROM e GROUP BY 1, 2""".stripMargin

  /** STREAMING drift monitor — q_psi's streaming twin, and the strongest
    * consistency statement in the streaming family: the live cohort (odd
    * users' purchase values) is binned IN-STREAM against decile
    * boundaries fitted to the static reference cohort (even users), the
    * complete-mode bin counts are drained, and the final PSI frame must
    * hash-match the BATCH q_psi oracle verbatim (same SQL — the oracle
    * literally IS q_psi's). Boundaries are computed batch-side
    * (PrefixSum decile pass) and collected to the driver as NINE doubles
    * — a control-plane scalar, the same O(k) discipline as the IVF
    * centroids — then embedded as a literal array in the streaming
    * expression: no stream-static join, no broadcast inside the
    * micro-batch plan, nothing for the streaming corpus-broadcast guard
    * to catch. Production shape: refit boundaries on a schedule, keep
    * the scoring expression literal-only so every micro-batch stays a
    * stateless map + windowless count. Arrival-order invariant by
    * construction (bin counts are commutative).
    */
  def qStreamDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("value"), (col("user_id") % 2 === 0).as("is_ref"))
    val boundsSeq = EvalQueries.refDeciles(ev).collect().head.getSeq[Double](0)
    val barr = array(boundsSeq.map(lit): _*)
    def binOf(v: org.apache.spark.sql.Column) =
      size(filter(barr, b => b < v)).cast("bigint")
    val curBins = eventStream(s, dir)
      .filter(col("event_type") === "purchase" && col("user_id") % 2 === 1)
      .withColumn("bin", binOf(col("value")))
      .groupBy(col("bin")).agg(count(lit(1)).as("cur_n"))
    val drained = drainToMemory(curBins, "graft_stream_drift", "complete",
      width = drainWidth(s, dir, "events.parquet"))
    val refBins = ev.filter(col("is_ref"))
      .withColumn("bin", binOf(col("value")))
      .groupBy(col("bin")).agg(count(lit(1)).as("ref_n"))
    // 10-row grid materialized ONCE (Lineage.truncate) — every
    // downstream reference (totals, terms, stat, final projection) would
    // otherwise re-execute the ref-bin events scan and re-read the
    // drained table per use; totals are then the grid's own sums (every
    // value bins somewhere), so the batch side scans events exactly
    // twice: boundaries + ref bins
    val grid = graft.ops.Lineage.truncate(
      s.range(0, 10).select(col("id").as("bin"))
        .join(refBins, Seq("bin"), "left")
        .join(drained, Seq("bin"), "left")
        .na.fill(0L, Seq("ref_n", "cur_n")))
    EvalQueries.psiTerms(grid)
      .select(col("bin"),
        when(col("bin") === 0, lit(null).cast("double"))
          .otherwise(element_at(barr, col("bin").cast("int"))).as("lo"),
        col("ref_n"), col("cur_n"),
        round(col("ref_n").cast("double") / col("np"), 6).as("ref_share"),
        round(col("cur_n").cast("double") / col("nq"), 6).as("cur_share"),
        round(col("term_raw"), 6).as("term"), round(col("psi_raw"), 6).as("psi"))
  }

  /** The oracle IS q_psi's: streaming execution must reproduce the batch
    * statistic bit-for-bit. */
  val qStreamDriftSql: String = EvalQueries.qPsiSql

  // ------------------------------------------------- late-data semantics --

  private val lateDelayUs = 3600000000L // the 1-hour watermark delay
  private val lateBaseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  /** (micro-batch, minute-of-day, value) — the planted disorder slice.
    * Values are powers of two so every emitted sum uniquely decodes the
    * exact set of surviving rows. See [[qStreamLate]] for what each row
    * exercises.
    */
  private val lateRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 630, 2L), (0, 725, 4L),
    (1, 645, 8L), (1, 670, 16L), (1, 840, 32L),
    (2, 650, 64L), (2, 750, 128L), (2, 810, 256L),
    (3, 720, 512L), (3, 825, 1024L), (3, 900, 2048L))

  /** Event-time DISORDER gate: out-of-order and late arrivals across
    * micro-batch boundaries — the semantics 100 TB of real event traffic
    * exercises constantly and the in-order events.parquet drains never
    * touch. A REAL streaming execution (file source, four deterministic
    * micro-batches, 1-hour tumbling aggregate, 1-hour watermark, append
    * mode) is gated against a DuckDB replay of Spark's watermark algebra,
    * probed empirically on this Spark build before the gate was written:
    *
    *   wm(N)        = max(wm(N−1), maxEventTime(batch N−1) − delay)
    *   late filter  : batch N drops an input row iff its window END ≤
    *                  wm(N−1) — one update STALER than eviction (the
    *                  two-watermark model: late-event filtering uses the
    *                  previous micro-batch's watermark, eviction the
    *                  current one)
    *   eviction     : after merging batch N, windows with end ≤ wm(N)
    *                  finalize and emit (append mode emits exactly once)
    *   cleanup      : AvailableNow runs one final zero-data batch when the
    *                  last file still advances the watermark, so windows
    *                  closed by the LAST batch's own max event time emit
    *
    * Each planted row makes one clause observable (minutes of day, v):
    *  - 645/v=8 (batch 1): its window [600,660) already ends BELOW this
    *    batch's eviction watermark (11:05), yet it is ACCEPTED and counted
    *    — the late filter lags one update behind (filter wm here = −∞).
    *    A single-watermark model gets this row wrong.
    *  - 650/v=64 (batch 2): same window one batch later — now DROPPED
    *    (end 11:00 ≤ filter wm 11:05).
    *  - 720/v=512 (batch 3): the exact boundary — end 13:00 ≤ filter wm
    *    13:00 → dropped (≤, not <).
    *  - 750/v=128 (batch 2): late (12:30 < eviction wm 13:00) but its
    *    window is still open → accepted AND emitted in the same batch.
    *  - 825/v=1024 (batch 3): emitted only by the CLEANUP batch (the
    *    900/v=2048 row advances the final watermark to 14:00).
    *  - 840/v=32 and 900/v=2048: windows end above the final watermark —
    *    held in state forever, NEVER emitted (absent from the gate).
    *
    * Scale: the slice is 12 rows / 4 files; semantics are what's under
    * test. Real deployments hit this algebra with every disordered
    * shard — a wrong mental model here silently drops or double-counts
    * event-time data at any scale.
    */
  def qStreamLate(s: SparkSession, dir: String): DataFrame = {
    // One staged file per planted micro-batch: deterministic batch
    // membership, which is exactly what the oracle replays.
    val stage = stageBatches(planted(s, lateRows), "late")
    try {
      val agg = stagedStream(s, stage).withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_v"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("n_events"), col("sum_v"))
      drainToMemory(agg, "graft_stream_late", "append")
    } finally Scratch.rm(stage)
  }

  private val stagedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType)))

  /** The planted (micro-batch, minute-of-day, v) rows as a frame of
    * (b, ts, v). Batches with no rows for this side get no staged file —
    * callers that need lockstep two-source batches must plant a row per
    * batch per side.
    */
  private def planted(s: SparkSession, rows: Seq[(Int, Int, Long)]): DataFrame =
    s.sql(rows.map { case (b, m, v) =>
      s"SELECT $b AS b, timestamp_micros(${lateBaseUs + m * 60000000L}L) AS ts, CAST($v AS BIGINT) AS v"
    }.mkString(" UNION ALL "))

  /** Stage `df`'s rows as one parquet leaf file per distinct value of its
    * int column `b` (file `b<N>.parquet`) under a fresh dir in the drain
    * checkpoint root, with FIXED ascending mtimes so the file source's
    * (modTime, path) listing order IS the batch order: read through
    * [[stagedStream]], file N is micro-batch N. The caller removes the dir
    * ([[Scratch.rm]]) once its stream is done.
    *
    * ONE write job for all batches (a per-batch job × 4 batches × 2 sides
    * was ~4 s of pure scheduling in the outer-join gate): a single-task
    * partitioned write lands one part file per b=N subdir, and partitionBy
    * drops `b` from the file payload, leaving exactly the leaf schema the
    * stream source reads. The batch ids are the subdirs' names, so no job
    * collects them.
    */
  private[queries] def stageBatches(df: DataFrame, tag: String): java.nio.file.Path = {
    val root = ckptRoot(df.sparkSession)
    val stage = java.nio.file.Files.createTempDirectory(root, s"${tag}_src")
    val raw = java.nio.file.Files.createTempDirectory(root, s"${tag}_raw")
    def names(dir: java.nio.file.Path): Seq[String] = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
    try {
      df.repartition(1).write.partitionBy("b").mode("overwrite").parquet(raw.toString)
      names(raw).filter(_.startsWith("b=")).map(_.stripPrefix("b=").toInt).sorted.foreach { b =>
        val parts = names(raw.resolve(s"b=$b")).filter(_.endsWith(".parquet"))
        // The single-task repartition(1) write must land exactly one
        // part file per b=N partition; if session config (e.g.
        // maxRecordsPerFile) ever rolls more, copying just one would
        // silently drop planted rows and fail the gate confusingly.
        require(parts.size == 1,
          s"stageBatches($tag): expected exactly 1 parquet part under b=$b, " +
            s"found ${parts.size} — writer rolled files (check maxRecordsPerFile)")
        val dst = stage.resolve(f"b$b.parquet")
        java.nio.file.Files.copy(raw.resolve(s"b=$b").resolve(parts.head), dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L * (b + 1)))
      }
      stage
    } finally Scratch.rm(raw)
  }

  /** A file stream over a staged dir ([[stageBatches]]) with the leaf
    * `schema`: one file per micro-batch, in mtime order. */
  private[queries] def stagedStream(s: SparkSession, dir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType = stagedSchema): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)

  /** DuckDB replay of the two-watermark algebra over the SAME planted
    * rows (batch membership explicit) — generic in the data, not a
    * hardcoded answer: running max of per-batch event-time maxima, a
    * LAG-2 filter watermark (late filtering lags eviction by one update),
    * survivor windows grouped, emission capped at the final watermark.
    */
  val qStreamLateSql: String = {
    val vals = lateRows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH raw(b, us, v) AS (SELECT * FROM (VALUES $vals)),
       |bmax AS (SELECT b, MAX(us) AS mx FROM raw GROUP BY b),
       |run AS (SELECT b, MAX(mx) OVER (ORDER BY b) AS rm FROM bmax),
       |fwm AS (SELECT b, LAG(rm, 2) OVER (ORDER BY b) - $lateDelayUs AS filter_wm FROM run),
       |surv AS (SELECT r.us - r.us % 3600000000 AS ws, r.v
       |         FROM raw r JOIN fwm ON r.b = fwm.b
       |         WHERE fwm.filter_wm IS NULL
       |            OR r.us - r.us % 3600000000 + 3600000000 > fwm.filter_wm),
       |final_wm AS (SELECT MAX(us) - $lateDelayUs AS wm FROM raw)
       |SELECT ws AS window_start_us, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(v) AS BIGINT) AS sum_v
       |FROM surv, final_wm
       |WHERE ws + 3600000000 <= wm
       |GROUP BY ws""".stripMargin
  }

  // --------------------------------------------- stream-stream outer join --

  /** (micro-batch, minute-of-day, id) — LEFT (purchase-like) rows. */
  private val outerL: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 630, 2L), (0, 690, 80L),
    (1, 900, 3L),
    (2, 720, 4L), (2, 850, 5L),
    (3, 865, 7L), (3, 955, 90L))

  /** (micro-batch, minute-of-day, id) — RIGHT (click-like) rows. */
  private val outerR: Seq[(Int, Int, Long)] = Seq(
    (0, 605, 1L), (0, 692, 81L),
    (1, 640, 2L), (1, 905, 3L),
    (2, 700, 6L), (2, 630, 2L),
    (3, 855, 5L), (3, 960, 91L))

  /** Stream-stream LEFT OUTER join gate — the null-padding-timing
    * semantics that make outer stream joins the most misunderstood
    * operator in streaming SQL ("my outer rows are missing"): a
    * null-padded result exists ONLY once the watermark proves no future
    * match can arrive, and a left row whose window never closes under the
    * final watermark is NEVER emitted at all. A real two-source streaming
    * execution (one staged file per micro-batch per side,
    * maxFilesPerTrigger=1 → lockstep batches, the q_stream_late
    * technique) joins purchases to clicks on id with
    * `r_ts ∈ [l_ts, l_ts + 30 min]`, both sides watermarked 1 h, and is
    * gated by a DuckDB replay of the empirically probed algebra:
    *
    *   wm(N)    = min over the two streams of (running max event time
    *              through batch N−1) − delay  (multipleWatermarkPolicy =
    *              min, the default), monotone
    *   input    : batch N drops a LEFT row iff l_ts + 30m ≤ wm(N−1) and a
    *              RIGHT row iff r_ts ≤ wm(N−1) — the side-specific
    *              condition-derived bounds, one watermark update STALER
    *              than eviction (the two-watermark model, as in
    *              [[qStreamLate]]; the ≤ boundary probed: a right row at
    *              exactly the filter watermark is dropped)
    *   match    : a surviving pair (l, r) emits iff the earlier-arriving
    *              row is still in state when the later arrives — left
    *              survives removal up to STRICTLY l_ts + 30m < wm (probed:
    *              equality keeps it), and state removal runs AFTER the
    *              batch's input joins (a match in the same batch that
    *              would evict the partner still emits)
    *   null-pad : an unmatched surviving left row emits (l, NULL) when
    *              l_ts + 30m < wm strictly — at the batch that crosses
    *              the bound, or the AvailableNow cleanup batch if the
    *              last file's own data closes it; a left at EXACTLY
    *              l_ts + 30m = final wm stays in state, emitting nothing
    *   matched  : an already-matched left row evicted by the watermark
    *              must NOT also null-pad (exactly-once outer semantics)
    *
    * Planted rows exercise each clause: in-batch match (#1), cross-batch
    * late match into live state (#2 — and its second candidate at
    * exactly the filter watermark is dropped, so the pair emits ONCE),
    * same-batch match at high ts (#3), match in the partner's last live
    * batch then watermark-evicted WITHOUT padding (#5), unmatched rows
    * padded mid-stream (#4) and by the cleanup batch (#80), a
    * never-closing left (#90) and an exact-boundary left (#7) that must
    * BOTH stay unemitted, and right orphans (#6, #81, #91) invisible to
    * a left outer join.
    */
  def qStreamOuter(s: SparkSession, dir: String): DataFrame = {
    val stageL = stageBatches(planted(s, outerL), "outerl")
    val stageR = stageBatches(planted(s, outerR), "outerr")
    try {
      def src(stage: java.nio.file.Path, p: String) =
        stagedStream(s, stage).toDF(s"${p}_ts", s"${p}_id")
      val l = src(stageL, "l").withWatermark("l_ts", "1 hour")
      val r = src(stageR, "r").withWatermark("r_ts", "1 hour")
      val j = l.join(r,
        expr("l_id = r_id AND r_ts BETWEEN l_ts AND l_ts + INTERVAL 30 MINUTES"),
        "left_outer")
        .select(col("l_id"), unix_micros(col("l_ts")).as("l_us"),
          unix_micros(col("r_ts")).as("r_us"))
      // width 1, not the bench default 8: a stream-stream join opens FOUR
      // state stores per partition per micro-batch, and this gate's data
      // is 16 rows across 5 batches — pure fixed cost (see drainWidth)
      drainToMemory(j, "graft_stream_outer", "append", width = 1)
    } finally { Scratch.rm(stageL); Scratch.rm(stageR) }
  }

  /** DuckDB replay of the probed outer-join algebra over the SAME planted
    * rows — generic in the data: per-side running maxima → min-of-streams
    * watermark, lagged input filters with the side-specific bounds,
    * pair-survival conditions (the earlier row must outlive the
    * watermark at the later row's batch), strict-< null-pad emission
    * capped at the final watermark.
    */
  val qStreamOuterSql: String = {
    def vals(rows: Seq[(Int, Int, Long)]) = rows.map { case (b, m, id) =>
      s"($b, ${(lateBaseUs + m * 60000000L) / 1000000L}, $id)"
    }.mkString(", ")
    val d = 1800L // 30 min in seconds
    val delay = 3600L
    s"""WITH rawl(b, us, id) AS (SELECT * FROM (VALUES ${vals(outerL)})),
       |rawr(b, us, id) AS (SELECT * FROM (VALUES ${vals(outerR)})),
       |batches AS (SELECT DISTINCT b FROM rawl UNION SELECT DISTINCT b FROM rawr),
       |runs AS (
       |  SELECT bb.b,
       |    (SELECT MAX(us) FROM rawl WHERE rawl.b <= bb.b) AS rml,
       |    (SELECT MAX(us) FROM rawr WHERE rawr.b <= bb.b) AS rmr
       |  FROM batches bb),
       |-- ev_wm(N): watermark in force DURING batch N (from data <= N-1);
       |-- f_wm(N): the late-event filter watermark (one update staler) —
       |-- ALSO the removal threshold a row must have outlived to still be
       |-- in state when batch N's input joins (last removal ran at the end
       |-- of batch N-1 under ev_wm(N-1) = f_wm(N))
       |wm AS (SELECT b,
       |         LAG(LEAST(rml, rmr), 1) OVER (ORDER BY b) - $delay AS ev_wm,
       |         LAG(LEAST(rml, rmr), 2) OVER (ORDER BY b) - $delay AS f_wm
       |       FROM runs),
       |survl AS (SELECT l.* FROM rawl l JOIN wm ON wm.b = l.b
       |          WHERE wm.f_wm IS NULL OR l.us + $d > wm.f_wm),
       |survr AS (SELECT r.* FROM rawr r JOIN wm ON wm.b = r.b
       |          WHERE wm.f_wm IS NULL OR r.us > wm.f_wm),
       |pairs AS (
       |  SELECT l.id, l.us AS l_us, r.us AS r_us
       |  FROM survl l JOIN survr r ON l.id = r.id
       |   AND r.us BETWEEN l.us AND l.us + $d
       |   AND (r.b <= l.b OR l.us + $d >=
       |        COALESCE((SELECT f_wm FROM wm WHERE wm.b = r.b), l.us + $d))
       |   AND (l.b <= r.b OR r.us >=
       |        COALESCE((SELECT f_wm FROM wm WHERE wm.b = l.b), r.us))),
       |final_wm AS (
       |  SELECT LEAST((SELECT MAX(us) FROM rawl), (SELECT MAX(us) FROM rawr))
       |         - $delay AS wm)
       |SELECT id AS l_id, CAST(l_us AS BIGINT) * 1000000 AS l_us,
       |  CAST(r_us AS BIGINT) * 1000000 AS r_us
       |FROM pairs
       |UNION ALL
       |SELECT l.id, CAST(l.us AS BIGINT) * 1000000, CAST(NULL AS BIGINT)
       |FROM survl l, final_wm f
       |WHERE l.us + $d < f.wm
       |  AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id = l.id AND p.l_us = l.us)""".stripMargin
  }

  // ------------------------------------------ event-time state timeouts --

  /** (micro-batch, minute-of-day, user id) — the timeout gate's slice. */
  private val timeoutRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 610, 1L), (0, 605, 2L), (0, 750, 99L),
    (1, 720, 1L), (1, 810, 98L), (1, 780, 96L),
    (2, 735, 2L), (2, 690, 3L),
    (3, 870, 97L))

  /** Custom-state EVENT-TIME TIMEOUT gate — the session-finalizer pattern
    * (flatMapGroupsWithState + GroupStateTimeout.EventTimeTimeout): state
    * accumulates per user, re-arms a timeout at last-event + 30 min, and
    * emits ONE closure record (user, n, last) when the watermark expires
    * the session. q_stream_custom_state covers NoTimeout accumulation;
    * this pins the semantics that make timeout-driven finalization
    * correct, all probed empirically before the gate was written:
    *
    *  - a timeout fires STRICTLY (wm > timeoutTs; a session whose timeout
    *    equals the final watermark stays open forever — u96)
    *  - new data RESCUES an expired-but-unfired session: the data
    *    invocation wins over the pending timeout, the session extends
    *    (u1's 12:00 row lands after its 10:40 timeout had already expired
    *    under the in-force watermark)
    *  - fMGWS drops late input by the lagged (two-watermark) filter, and
    *    the boundary drops: u3's only row sits at EXACTLY the filter
    *    watermark → dropped → u3 must be entirely absent
    *  - after a closure the key is reborn fresh: u2 closes (n=1), then a
    *    later in-time row opens a SECOND session that closes separately —
    *    two closure rows for one user, n reset between them
    *  - the AvailableNow cleanup batch fires timeouts closed by the last
    *    file's own data (u1, u2's second session, u99)
    *
    * The oracle replays the per-batch state machine in five chained CTE
    * stages (the q_unigram_lm chained-DP precedent): surviving inputs per
    * batch, closures = stateful users with no data whose timeout fell
    * strictly below the batch's eviction watermark, state = merged
    * survivors + reborn keys.
    */
  def qStreamTimeout(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val stage = stageBatches(planted(s, timeoutRows), "timeout")
    try {
      val closed = stagedStream(s, stage).withWatermark("ts", "1 hour")
        .select(col("v").as("id"), col("ts")).as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
          (id: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           st: GroupState[(Long, Long)]) =>
            if (st.hasTimedOut) {
              val (n, last) = st.get
              st.remove()
              Iterator((id, n, last))
            } else {
              var (n, last) = st.getOption.getOrElse((0L, Long.MinValue))
              rows.foreach { case (_, t) =>
                val us = t.getTime * 1000L
                n += 1; if (us > last) last = us
              }
              st.update((n, last))
              st.setTimeoutTimestamp(last / 1000L + 30L * 60L * 1000L)
              Iterator.empty
            }
        }.toDF("id", "n_events", "last_us")
      drainToMemory(closed, "graft_stream_timeout", "update", width = 2)
    } finally Scratch.rm(stage)
  }

  /** Five chained replay stages over the planted slice: in_k = surviving
    * inputs of batch k, c_k = closures fired during batch k, s_k = state
    * after batch k. Stage count = planted batch count + the cleanup batch
    * (data-specific, like the unigram oracle's 12 DP rounds).
    */
  val qStreamTimeoutSql: String = {
    val vals = timeoutRows.map { case (b, m, id) =>
      s"($b, ${(lateBaseUs + m * 60000000L) / 1000000L}, $id)"
    }.mkString(", ")
    val gap = 1800L
    val delay = 3600L
    def stage(k: Int, wmExpr: String): String =
      s"""in$k AS (SELECT id, COUNT(*) AS cnt, MAX(us) AS mx
         |         FROM surv WHERE b = $k GROUP BY id),
         |c$k AS (SELECT s.id, s.n, s.last FROM s${k - 1} s
         |        WHERE s.id NOT IN (SELECT id FROM in$k)
         |          AND $wmExpr > s.last + $gap),
         |s$k AS (
         |  SELECT i.id, COALESCE(s.n, 0) + i.cnt AS n,
         |         GREATEST(COALESCE(s.last, 0), i.mx) AS last
         |  FROM in$k i LEFT JOIN s${k - 1} s USING (id)
         |  UNION ALL
         |  SELECT s.id, s.n, s.last FROM s${k - 1} s
         |  WHERE s.id NOT IN (SELECT id FROM in$k)
         |    AND NOT ($wmExpr > s.last + $gap))""".stripMargin
    def evWm(k: Int) =
      s"COALESCE((SELECT ev_wm FROM wm WHERE wm.b = $k), -922337203685477)"
    s"""WITH raw(b, us, id) AS (SELECT * FROM (VALUES $vals)),
       |bmax AS (SELECT b, MAX(us) AS mx FROM raw GROUP BY b),
       |run AS (SELECT b, MAX(mx) OVER (ORDER BY b) AS rm FROM bmax),
       |wm AS (SELECT b, LAG(rm, 1) OVER (ORDER BY b) - $delay AS ev_wm,
       |               LAG(rm, 2) OVER (ORDER BY b) - $delay AS f_wm
       |       FROM run),
       |surv AS (SELECT r.* FROM raw r JOIN wm ON wm.b = r.b
       |         WHERE wm.f_wm IS NULL OR r.us > wm.f_wm),
       |s0 AS (SELECT id, COUNT(*) AS n, MAX(us) AS last
       |       FROM surv WHERE b = 0 GROUP BY id),
       |${stage(1, evWm(1))},
       |${stage(2, evWm(2))},
       |${stage(3, evWm(3))},
       |final_wm AS (SELECT MAX(us) - $delay AS wm FROM raw),
       |c4 AS (SELECT s.id, s.n, s.last FROM s3 s, final_wm f
       |       WHERE f.wm > s.last + $gap)
       |SELECT id, CAST(n AS BIGINT) AS n_events,
       |  CAST(last AS BIGINT) * 1000000 AS last_us
       |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)""".stripMargin
  }

  // ----------------------------------------- update-mode emission log --

  /** (micro-batch, minute-of-day, value) — the update-mode gate's slice:
    * the q_stream_late shape plus a late-but-open update (12:40), a
    * dropped late row (10:50), and a boundary drop (12:10 lands at
    * exactly the lagged filter watermark of its batch).
    */
  private val updateRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 630, 2L), (0, 725, 4L),
    (1, 645, 8L), (1, 670, 16L), (1, 840, 32L),
    (2, 760, 64L), (2, 810, 128L), (2, 650, 256L),
    (3, 730, 512L), (3, 900, 1024L))

  /** UPDATE-mode windowed aggregation gate — the third output mode's
    * emission contract (complete: q_stream_tumbling; append:
    * q_stream_late). Update mode emits one row per (micro-batch, window
    * updated in that batch) carrying the CUMULATIVE state — so the final
    * sink content is an emission LOG, not a result table: a consumer
    * must upsert by window (an append-only consumer double-counts every
    * window that was updated twice). The gate drains the log and gates
    * it row-for-row against a DuckDB replay (per-(window, batch) partial
    * sums cumulated per window in batch order over the late-filtered
    * survivors).
    *
    * Pinned semantics (probed first): windows still OPEN keep emitting
    * updates (append mode would show nothing for them); late-but-open
    * rows re-emit their window with merged state in the arrival batch;
    * the late filter is the lagged two-watermark rule with an inclusive
    * boundary (the 12:10 row, window end == its batch's filter
    * watermark, is dropped). And one structural invariant the gate's
    * oracle RELIES on: the filter watermark of batch N equals the
    * eviction watermark of batch N−1, so a row that passes the filter
    * can never target an already-evicted window — update-mode windows
    * are never partially re-created, which is exactly what makes
    * upsert-by-window consumers correct.
    */
  def qStreamUpdate(s: SparkSession, dir: String): DataFrame = {
    val stage = stageBatches(planted(s, updateRows), "update")
    try {
      val agg = stagedStream(s, stage).withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_v"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("n_events"), col("sum_v"))
      drainToMemory(agg, "graft_stream_update", "update")
    } finally Scratch.rm(stage)
  }

  /** Replay: per-(window, batch) deltas over the late-filtered survivors,
    * cumulated per window in batch order — one output row per update.
    */
  val qStreamUpdateSql: String = {
    val vals = updateRows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH raw(b, us, v) AS (SELECT * FROM (VALUES $vals)),
       |bmax AS (SELECT b, MAX(us) AS mx FROM raw GROUP BY b),
       |run AS (SELECT b, MAX(mx) OVER (ORDER BY b) AS rm FROM bmax),
       |fwm AS (SELECT b, LAG(rm, 2) OVER (ORDER BY b) - $lateDelayUs AS filter_wm FROM run),
       |surv AS (SELECT r.us - r.us % 3600000000 AS ws, r.b, r.v
       |         FROM raw r JOIN fwm ON r.b = fwm.b
       |         WHERE fwm.filter_wm IS NULL
       |            OR r.us - r.us % 3600000000 + 3600000000 > fwm.filter_wm),
       |g AS (SELECT ws, b, COUNT(*) AS dn, SUM(v) AS dsv
       |      FROM surv GROUP BY ws, b)
       |SELECT ws AS window_start_us,
       |  CAST(SUM(dn) OVER (PARTITION BY ws ORDER BY b) AS BIGINT) AS n_events,
       |  CAST(SUM(dsv) OVER (PARTITION BY ws ORDER BY b) AS BIGINT) AS sum_v
       |FROM g""".stripMargin
  }

  // -------------------------------------------- dedup-state expiry --

  /** (micro-batch, minute-of-day, key) — the dedup-expiry gate's slice. */
  private val dedupExpiryRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 600, 4L), (0, 690, 5L), (0, 750, 51L),
    (1, 675, 4L), (1, 810, 52L),
    (2, 760, 1L), (2, 720, 4L), (2, 690, 6L), (2, 840, 53L),
    (3, 780, 5L), (3, 870, 54L))

  /** dropDuplicatesWithinWatermark EXPIRY gate — the exactly-once vs
    * at-least-once boundary of streaming dedup: the operator guarantees
    * "no duplicates within the watermark delay", NOT global dedup, so a
    * duplicate arriving after its key's state expired is RE-EMITTED — the
    * trap a pipeline counting on global exactly-once hits at exactly the
    * moment its data gets late enough to matter. q_stream_dedup gates the
    * happy path (365-day delay — state never expires); this pins the
    * expiry algebra, probed empirically before the gate was written:
    *
    *  - key state carries expiry = FIRST-occurrence ts + delay; a
    *    duplicate dropped against live state does NOT refresh it (probed:
    *    the refresh hypothesis predicts key 4 emits once; it emits twice)
    *  - state evicts at the END of a batch under that batch's eviction
    *    watermark, so a duplicate in the same batch that expires its key
    *    is still dropped; re-emission needs a later batch
    *  - late INPUT is filtered by the lagged two-watermark rule
    *    (boundary inclusive: key 6's only row sits at exactly the filter
    *    watermark → the key is entirely absent)
    *  - eviction is INCLUSIVE (expiry ≤ wm evicts): key 5's expiry lands
    *    EXACTLY on the eviction watermark of the batch before its
    *    duplicate, and the duplicate RE-EMITS — note the asymmetry with
    *    the rest of the stateful family, where removal is strict
    *    (stream-stream join state at end == wm stays; a timeout equal to
    *    the final watermark never fires). Same engine, three operators,
    *    two boundary conventions — exactly why each is pinned.
    *
    * Scale note: this is why 100 TB dedup pairs this operator with a
    * persisted exact-dedup state table ([[graft.ops.DedupState]]) — the
    * streaming operator bounds its state by the watermark ON PURPOSE,
    * trading global exactly-once for bounded memory.
    */
  def qStreamDedupExpiry(s: SparkSession, dir: String): DataFrame = {
    val stage = stageBatches(planted(s, dedupExpiryRows), "ddexp")
    try {
      val out = stagedStream(s, stage).withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("v")
        .select(col("v").as("id"), unix_micros(col("ts")).as("us"))
      drainToMemory(out, "graft_stream_dedup_expiry", "append", width = 2)
    } finally Scratch.rm(stage)
  }

  /** Four chained replay stages (the q_stream_timeout oracle shape):
    * in_k = late-filtered inputs, emit_k = keys absent from live state,
    * live_k = (state ∪ new keys) minus end-of-batch evictions. Expiry is
    * first-ts + delay, never refreshed. Eviction comparison: INCLUSIVE
    * (expiry ≤ wm evicts — pinned by key 5 emitting twice).
    */
  val qStreamDedupExpirySql: String = {
    val vals = dedupExpiryRows.map { case (b, m, id) =>
      s"($b, ${(lateBaseUs + m * 60000000L) / 1000000L}, $id)"
    }.mkString(", ")
    val delay = 3600L
    def evWm(k: Int) =
      s"COALESCE((SELECT ev_wm FROM wm WHERE wm.b = $k), -922337203685477)"
    def stage(k: Int): String =
      s"""in$k AS (SELECT id, MIN(us) AS us FROM surv WHERE b = $k GROUP BY id),
         |emit$k AS (SELECT i.id, i.us FROM in$k i
         |           WHERE i.id NOT IN (SELECT id FROM live${k - 1})),
         |live$k AS (
         |  SELECT id, exp FROM (
         |    SELECT id, exp FROM live${k - 1}
         |    UNION ALL
         |    SELECT id, us + $delay AS exp FROM emit$k) m
         |  WHERE NOT (exp <= ${evWm(k)}))""".stripMargin
    s"""WITH raw(b, us, id) AS (SELECT * FROM (VALUES $vals)),
       |bmax AS (SELECT b, MAX(us) AS mx FROM raw GROUP BY b),
       |run AS (SELECT b, MAX(mx) OVER (ORDER BY b) AS rm FROM bmax),
       |wm AS (SELECT b, LAG(rm, 1) OVER (ORDER BY b) - $delay AS ev_wm,
       |               LAG(rm, 2) OVER (ORDER BY b) - $delay AS f_wm
       |       FROM run),
       |surv AS (SELECT r.* FROM raw r JOIN wm ON wm.b = r.b
       |         WHERE wm.f_wm IS NULL OR r.us > wm.f_wm),
       |live_1(id, exp) AS (SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE FALSE),
       |${stage(0).replace("live-1", "live_1")},
       |${stage(1)},
       |${stage(2)},
       |${stage(3)}
       |SELECT id, CAST(us AS BIGINT) * 1000000 AS us
       |FROM (SELECT * FROM emit0 UNION ALL SELECT * FROM emit1
       |      UNION ALL SELECT * FROM emit2 UNION ALL SELECT * FROM emit3)""".stripMargin
  }

  // ------------------------------------------------- crash recovery --

  /** (micro-batch, minute-of-day, v) — powers of two, so every sink sum
    * uniquely decodes its contributing rows. Batches 0-1 run BEFORE the
    * planned stop, 2-3 after the restart; window [11:00,12:00) mixes a
    * pre-stop row (700/4) with a post-restart row (710/8), so its sum 12
    * is unforgeable proof the state store survived the restart.
    */
  private val recoveryRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 605, 2L),
    (1, 700, 4L),
    (2, 710, 8L),
    (3, 800, 16L))

  private val recoveryDelayUs = 1800000000L // 30-minute watermark delay

  /** Run evidence the SQL gate cannot express: the execution really did
    * span a stop + restart (two distinct runIds; run 2's batch ids
    * continue past run 1's, never overlapping). InvariantsSpec asserts it.
    */
  private[queries] final case class RecoveryEvidence(
    runIds: Seq[String], run1Batches: Seq[Long], run2Batches: Seq[Long])

  /** The D9/C3 streaming analog made a registry gate (r13): a stateful
    * windowed aggregation with a REAL, REUSED checkpoint and a
    * transactional parquet sink is run to completion on half its input,
    * STOPPED, given the rest of the input, and RESTARTED from the same
    * checkpoint. The final sink must be exactly-once:
    *  - [10:00,11:00) emitted by run 1's cleanup batch (wm 670 ≥ 660) and
    *    NOT re-emitted by run 2 (a restart that replayed batch 0-1 would
    *    double it; the file sink's _spark_metadata manifest is the
    *    transactional boundary the batch readback honors);
    *  - [11:00,12:00) emitted by run 2 with sum 4+8: its state (the
    *    pre-stop 700/4 row) and the 670 watermark must both have been
    *    restored from the checkpoint — a fresh-state restart would emit
    *    sum 8, a reset watermark would emit nothing;
    *  - [13:00,14:00) held in state past the final watermark, never
    *    emitted (absent).
    * The oracle replays the same algebra generically (windows closed by
    * the FINAL watermark over all rows; no row here is late-dropped).
    *
    * Scale: recovery is the normal 1000-executor operating mode — every
    * production stream restarts (deploys, preemptions); this pins that
    * the engine's restart honors the reference's exactly-once ETLState
    * contract (bert/etl/__init__.py:24-84) at the sink.
    */
  /** The stop/restart machinery shared by the crash-recovery gates: stage
    * all batches, expose only those with batch id ≤ `phase1MaxBatch`, run
    * `build`'s streaming query to completion (AvailableNow) against a
    * REUSED checkpoint + transactional parquet sink, expose the rest,
    * run a SECOND query from the same checkpoint, and return the sink
    * readback (which honors the sink's `_spark_metadata` manifest) plus
    * the two runs' identities.
    */
  /** Multi-source generalization: one staged file-source per (subTag,
    * rows) pair, all advancing in LOCKSTEP (every batch id present on
    * every side, maxFilesPerTrigger=1, fixed mtimes — the q_stream_outer
    * staging discipline), one checkpoint, one transactional sink.
    */
  private def recoveryHarnessN(s: SparkSession, tag: String,
      sources: Seq[(String, Seq[(Int, Int, Long)])], phase1MaxBatch: Int,
      build: Seq[DataFrame] => DataFrame): (DataFrame, RecoveryEvidence) = {
    val stagedAll = sources.map { case (sub, rows) =>
      (stageBatches(planted(s, rows), s"${tag}_$sub"), rows) }
    val srcs = sources.map { case (sub, _) =>
      java.nio.file.Files.createTempDirectory(ckptRoot(s), s"${tag}_${sub}_rsrc") }
    val ckptDir = java.nio.file.Files.createTempDirectory(ckptRoot(s), s"${tag}_rckpt")
    // the sink outlives this call (the returned frame reads it lazily) —
    // root it on disk tmp (not the tmpfs checkpoint root); Scratch's
    // shutdown hook reaps it at JVM exit so repeated bench samples don't
    // accumulate tmp dirs unboundedly
    val sinkDir = Scratch.dir(s"${tag}_rsink")
    def moveIn(i: Int, b: Int): Unit = {
      val f = stagedAll(i)._1.resolve(f"b$b.parquet")
      val dst = srcs(i).resolve(f"b$b.parquet")
      val t = java.nio.file.Files.getLastModifiedTime(f)
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst, t)
      ()
    }
    def runOnce(): (String, Seq[Long]) = {
      val out = build(srcs.map(stagedStream(s, _)))
      analyzedPlans(s"graft_$tag") = out.queryExecution.analyzed
      // throwaway tmpfs checkpoint: the same width/checksum/manager confs
      // as drainToMemory — restart-state semantics, the thing under test,
      // are independent of all three
      try {
        withDrainConfs(s, 8) {
          val q = out.writeStream.outputMode("append").format("parquet")
            .option("path", sinkDir.toString)
            .option("checkpointLocation", ckptDir.toString)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          // recentProgress is a ring buffer capped by
          // numRecentProgressUpdates (default 100): a run ever exceeding it
          // would silently truncate run 1's batch list and make the
          // run2.min > run1.max evidence pin pass or fail SPURIOUSLY (r13
          // advice). The gates run a handful of batches; assert we are
          // nowhere near the cap so the evidence is provably complete.
          val prog = q.recentProgress
          val cap = s.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt
          require(prog.length < cap,
            s"recovery evidence would be truncated: ${prog.length} progress updates " +
              s">= retention cap $cap — read batch ids from the checkpoint offsets " +
              "log instead of recentProgress for slices this long")
          (q.runId.toString, prog.map(_.batchId).toSeq)
        }
      } finally {
        // unload this run's providers before the next: a real restart is a
        // fresh executor — run 2 must reload state from the CHECKPOINT
        // FILES, which is exactly the property the gate pins (and the
        // registry-wide provider-hygiene discipline of drainToMemory)
        unloadDeadStateStores()
      }
    }
    try {
      stagedAll.zipWithIndex.foreach { case ((_, rows), i) =>
        rows.map(_._1).distinct.sorted.filter(_ <= phase1MaxBatch).foreach(moveIn(i, _)) }
      val (run1, b1) = runOnce()
      stagedAll.zipWithIndex.foreach { case ((_, rows), i) =>
        rows.map(_._1).distinct.sorted.filter(_ > phase1MaxBatch).foreach(moveIn(i, _)) }
      val (run2, b2) = runOnce()
      (s.read.parquet(sinkDir.toString),
        RecoveryEvidence(Seq(run1, run2), b1, b2))
    } finally {
      (stagedAll.map(_._1) ++ srcs :+ ckptDir).foreach(Scratch.rm)
    }
  }

  private def recoveryHarness(s: SparkSession, tag: String,
      rows: Seq[(Int, Int, Long)], phase1MaxBatch: Int,
      build: DataFrame => DataFrame): (DataFrame, RecoveryEvidence) =
    recoveryHarnessN(s, tag, Seq(("src", rows)), phase1MaxBatch,
      dfs => build(dfs.head))

  private[queries] def streamRecoveryRun(s: SparkSession, dir: String): (DataFrame, RecoveryEvidence) =
    recoveryHarness(s, "stream_recovery", recoveryRows, phase1MaxBatch = 1, src =>
      src.withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_v"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("n_events"), col("sum_v")))

  def qStreamRecovery(s: SparkSession, dir: String): DataFrame =
    streamRecoveryRun(s, dir)._1

  /** (micro-batch, minute-of-day, id) for the dedup-state recovery gate:
    * id=1 is sent in batch 0 (pre-stop) and RE-SENT in batch 2 (post-
    * restart, different event time 610 vs 600, within the watermark) —
    * dropping it requires the dedup state store to have survived the
    * restart. State expires when the watermark reaches FIRST-occurrence
    * ts + delay (q_stream_dedup_expiry's probed boundary), so the
    * earliest expiry here is 600 + 2h = minute 720; the final watermark
    * is 800 − 2h = 680 < 720, a 40-minute margin — every key's state
    * stays alive, and unlike q_stream_dedup_expiry nothing is
    * legitimately re-emittable: the sink must hold each id EXACTLY once,
    * at its first-occurrence event time. (A planted row later than
    * minute 840 would push the watermark past 720 and break the probe —
    * extend the delay if the slice ever grows.)
    */
  private val recoveryDedupRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 605, 2L),
    (1, 700, 3L),
    (2, 610, 1L), (2, 710, 4L),
    (3, 800, 5L))

  /** The crash-recovery gate for the OTHER stateful store (r13):
    * q_stream_recovery pins windowed-aggregation state across a
    * stop/restart; this pins `dropDuplicatesWithinWatermark` state — the
    * streaming twin of the reference's ETLState exactly-once contract
    * (bert/etl/__init__.py:24-84). Run 2 replays a pre-stop id from the
    * restored state: a fresh-state restart would emit id=1 twice (the
    * exact failure the reference's S3-document state had on concurrent
    * runs, SURVEY §1.4), a lost watermark would change nothing here (the
    * probe isolates STATE, where the agg gate's probe mixes both).
    * Evidence of the actual stop/restart is pinned in InvariantsSpec via
    * [[RecoveryEvidence]], as for q_stream_recovery.
    */
  private[queries] def streamRecoveryDedupRun(s: SparkSession, dir: String): (DataFrame, RecoveryEvidence) =
    recoveryHarness(s, "stream_recovery_dedup", recoveryDedupRows, phase1MaxBatch = 1, src =>
      src.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("v")
        .select(unix_micros(col("ts")).as("us"), col("v").as("id")))

  def qStreamRecoveryDedup(s: SparkSession, dir: String): DataFrame =
    streamRecoveryDedupRun(s, dir)._1

  /** (batch, minute, v) for the custom-state recovery gate; key = v % 2.
    * Batches 2-3 (post-restart) emit per-key CUMULATIVE snapshots that
    * can only be right if the arbitrary GroupState survived the restart:
    * k0 reaches (n=3, sum=14) and k1 (n=2, sum=4) only by adding run-2
    * rows onto run-1 state. */
  private val recoveryStateRows: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 605, 2L),
    (1, 700, 4L),
    (2, 710, 8L),
    (3, 800, 3L))

  /** The FOURTH stateful store across a stop/restart — arbitrary
    * user-defined GroupState (flatMapGroupsWithState), completing the
    * recovery coverage of every stateful streaming operator family this
    * engine ships (windowed agg / dedup / join buffer / custom state).
    * Each micro-batch emits the touched key's cumulative (n, sum)
    * snapshot; the emission log is deterministic (one row per touched
    * (batch, key), all tuples distinct), and the post-restart snapshots
    * are unforgeable proof the serialized state round-tripped the
    * checkpoint — the D9 restart contract for the reference's
    * accumulate-forever ETLState semantics (bert/etl/__init__.py:24-84).
    * The oracle replays per-(batch, key) running totals in batch order.
    */
  private[queries] def streamRecoveryStateRun(s: SparkSession, dir: String): (DataFrame, RecoveryEvidence) = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    recoveryHarness(s, "stream_recovery_state", recoveryStateRows, phase1MaxBatch = 1, src =>
      src.select(unix_micros(col("ts")).as("us"), col("v")).as[(Long, Long)]
        .groupByKey(_._2 % 2)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (k: Long, rows: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
            var (n, sum) = st.getOption.getOrElse((0L, 0L))
            rows.foreach { case (_, v) => n += 1; sum += v }
            st.update((n, sum))
            Iterator((k, n, sum))
        }
        .toDF("key", "n", "sum_v"))
  }

  def qStreamRecoveryState(s: SparkSession, dir: String): DataFrame =
    streamRecoveryStateRun(s, dir)._1

  val qStreamRecoveryStateSql: String = {
    val vals = recoveryStateRows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH raw(b, us, v) AS (SELECT * FROM (VALUES $vals)),
       |per AS (SELECT v % 2 AS k, b, COUNT(*) AS nb, SUM(v) AS sb
       |        FROM raw GROUP BY 1, 2)
       |SELECT CAST(k AS BIGINT) AS key,
       |  CAST(SUM(nb) OVER (PARTITION BY k ORDER BY b) AS BIGINT) AS n,
       |  CAST(SUM(sb) OVER (PARTITION BY k ORDER BY b) AS BIGINT) AS sum_v
       |FROM per""".stripMargin
  }

  /** LEFT rows (batch, minute, id) for the join-state recovery gate. */
  private val recoveryJoinL: Seq[(Int, Int, Long)] = Seq(
    (0, 600, 1L), (0, 605, 2L),
    (1, 700, 3L),
    (2, 710, 4L),
    (3, 900, 9L))

  /** RIGHT rows — id 3's right row arrives POST-restart (batch 2) while
    * its left partner (700) arrived PRE-stop (batch 1): the match can
    * only emit from RESTORED join buffer state. */
  private val recoveryJoinR: Seq[(Int, Int, Long)] = Seq(
    (0, 602, 1L),
    (1, 640, 2L),
    (2, 705, 3L), (2, 715, 4L),
    (3, 901, 8L))

  /** The third stateful store across a stop/restart (r13 triptych:
    * windowed-agg state → q_stream_recovery, dedup state →
    * q_stream_recovery_dedup, and here the stream-stream JOIN buffer):
    * an event-time-range inner join (r.ts ∈ [l.ts, l.ts + 1h], both
    * sides watermarked 30 min) runs on batches 0-1, stops, and restarts
    * on batches 2-3 from the same checkpoint. Pins: the id-3 pair joins
    * ACROSS the restart (its left row was buffered pre-stop — a
    * fresh-state restart silently loses the match, the worst failure
    * mode because nothing crashes); pre-stop matches (ids 1, 2) are not
    * re-emitted through the sink manifest; the same-run post-restart
    * match (id 4) and the unmatched boundary rows (9 left / 8 right)
    * behave as in a single run. The oracle replays the whole join
    * batch-obliviously — for an INNER join with no late-dropped rows,
    * single-run replay ≡ exactly-once two-run union, and that equality
    * IS the gate.
    */
  private[queries] def streamRecoveryJoinRun(s: SparkSession, dir: String): (DataFrame, RecoveryEvidence) =
    recoveryHarnessN(s, "stream_recovery_join",
      Seq(("l", recoveryJoinL), ("r", recoveryJoinR)), phase1MaxBatch = 1, {
        case Seq(l, r) =>
          val lw = l.withWatermark("ts", "30 minutes")
            .select(col("ts").as("l_ts"), col("v").as("id"))
          val rw = r.withWatermark("ts", "30 minutes")
            .select(col("ts").as("r_ts"), col("v").as("r_id"))
          lw.join(rw, col("id") === col("r_id") &&
              col("r_ts") >= col("l_ts") &&
              col("r_ts") <= col("l_ts") + expr("interval 1 hour"))
            .select(col("id"), unix_micros(col("l_ts")).as("l_us"),
              unix_micros(col("r_ts")).as("r_us"))
        case dfs => throw new IllegalStateException(s"expected 2 sources, got ${dfs.size}")
      })

  def qStreamRecoveryJoin(s: SparkSession, dir: String): DataFrame =
    streamRecoveryJoinRun(s, dir)._1

  val qStreamRecoveryJoinSql: String = {
    def vals(rows: Seq[(Int, Int, Long)]) = rows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH lraw(b, us, v) AS (SELECT * FROM (VALUES ${vals(recoveryJoinL)})),
       |rraw(b, us, v) AS (SELECT * FROM (VALUES ${vals(recoveryJoinR)}))
       |SELECT CAST(l.v AS BIGINT) AS id, CAST(l.us AS BIGINT) AS l_us,
       |  CAST(r.us AS BIGINT) AS r_us
       |FROM lraw l JOIN rraw r ON l.v = r.v
       |  AND r.us >= l.us AND r.us <= l.us + 3600000000""".stripMargin
  }

  /** Replay: each id exactly once at its FIRST (batch, event-time)
    * occurrence — the duplicate's later timestamp must never surface.
    */
  val qStreamRecoveryDedupSql: String = {
    val vals = recoveryDedupRows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH raw(b, us, v) AS (SELECT * FROM (VALUES $vals)),
       |ranked AS (SELECT b, us, v,
       |    ROW_NUMBER() OVER (PARTITION BY v ORDER BY b, us) AS rn FROM raw)
       |SELECT CAST(us AS BIGINT) AS us, CAST(v AS BIGINT) AS id
       |FROM ranked WHERE rn = 1""".stripMargin
  }

  /** Generic replay: per-window totals over ALL rows, emission capped at
    * the final watermark (no row in this slice is late-dropped, so the
    * one-run replay equals the two-run exactly-once union — that equality
    * IS the gate).
    */
  val qStreamRecoverySql: String = {
    val vals = recoveryRows.map { case (b, m, v) =>
      s"($b, ${lateBaseUs + m * 60000000L}, $v)"
    }.mkString(", ")
    s"""WITH raw(b, us, v) AS (SELECT * FROM (VALUES $vals)),
       |wm AS (SELECT MAX(us) - $recoveryDelayUs AS w FROM raw),
       |agg AS (SELECT us - us % 3600000000 AS ws, COUNT(*) AS n, SUM(v) AS s
       |        FROM raw GROUP BY 1)
       |SELECT ws AS window_start_us, CAST(n AS BIGINT) AS n_events,
       |  CAST(s AS BIGINT) AS sum_v
       |FROM agg, wm WHERE ws + 3600000000 <= wm.w""".stripMargin
  }

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_stream_recovery" -> ((qStreamRecovery _, Some(qStreamRecoverySql))),
    "q_stream_recovery_dedup" -> ((qStreamRecoveryDedup _, Some(qStreamRecoveryDedupSql))),
    "q_stream_recovery_join" -> ((qStreamRecoveryJoin _, Some(qStreamRecoveryJoinSql))),
    "q_stream_recovery_state" -> ((qStreamRecoveryState _, Some(qStreamRecoveryStateSql))),
    "q_stream_late" -> ((qStreamLate _, Some(qStreamLateSql))),
    "q_stream_outer" -> ((qStreamOuter _, Some(qStreamOuterSql))),
    "q_stream_timeout" -> ((qStreamTimeout _, Some(qStreamTimeoutSql))),
    "q_stream_dedup_expiry" -> ((qStreamDedupExpiry _, Some(qStreamDedupExpirySql))),
    "q_stream_update" -> ((qStreamUpdate _, Some(qStreamUpdateSql))),
    "q_stream_drift" -> ((qStreamDrift _, Some(qStreamDriftSql))),
    "q_stream_ohlc" -> ((qStreamOhlc _, Some(qStreamOhlcSql))),
    "q_stream_curation" -> ((qStreamCuration _, Some(qStreamCurationSql))),
    "q_stream_enrich" -> ((qStreamEnrich _, Some(qStreamEnrichSql))),
    "q_stream_join" -> ((qStreamJoin _, Some(qStreamJoinSql))),
    "q_stream_tumbling" -> ((qStreamTumbling _, Some(qStreamTumblingSql))),
    "q_stream_dedup" -> ((qStreamDedup _, Some(qStreamDedupSql))),
    "q_stream_sliding" -> ((qStreamSliding _, Some(qStreamSlidingSql))),
    "q_stream_session" -> ((qStreamSession _, Some(qStreamSessionSql))),
    "q_stream_session_dyn" -> ((qStreamSessionDynamic _, Some(qStreamSessionDynamicSql))),
    "q_stream_custom_state" -> ((qStreamCustomState _, Some(qStreamCustomStateSql)))
  )
}
