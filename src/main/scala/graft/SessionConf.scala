package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built, and the session-level conf
  * every graft session carries.
  *
  * SPARK_GRAFT_CONF="k=v;k=v" — arbitrary session-conf overlay for
  * robustness sweeps (AQE off, exchange reuse off, odd partition counts…).
  * ONE parser for every session: segments are trimmed (a space after
  * ';' must not silently turn a real key into an unknown one, faking a
  * green sweep under default configs) and malformed segments fail loudly
  * with the offending text.
  */
object SessionConf {
  /** The graft session on `local[cpus]`: one shuffle partition per core,
    * UTC, no UI, WARN logging, plus [[overlay]]. `cpus` defaults to
    * SPARK_GRAFT_CPUS, else the processors this JVM may use. Returns the
    * running session if one exists (`getOrCreate`). */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)): SparkSession = {
    val spark = overlay(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def overlay(builder: SparkSession.Builder): SparkSession.Builder = {
    // Graft base default, set BEFORE the env overlay so SPARK_GRAFT_CONF
    // can still override it in sweeps: the driver-generated parquet holds
    // isAdjustedToUTC=false timestamps, which Spark 4 would infer as
    // TIMESTAMP_NTZ — a type watermarks, unix_micros and interval
    // arithmetic reject. One visible session-level choice here replaces
    // the old per-call mutation inside Tables.load (which silently
    // disabled NTZ inference for unrelated readers created later);
    // Tables.ntzToLtz stays as the local belt for externally-built
    // sessions that skip this overlay.
    builder.config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; read it as raw long nanos (Tables.loadEvents
    // truncates to micros). Decided here, once, for the same reason as
    // the NTZ choice above: a query must not flip session conf that a
    // later reader in the same session sees.
    builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Shuffle-writer selection (r16, guide §2.2 "fewer, larger blocks"):
    // the bypass-merge writer creates one FILE per reduce partition per
    // map task — M×R file creations per shuffle — while the tungsten sort
    // writer emits one spill file + index per map task after an in-memory
    // partition-id radix sort. Spark's default threshold (200) uses bypass
    // for every narrow shuffle; measured on this engine's registry the
    // crossover is far lower: at R=32 an interleaved min-of-2 A/B over a
    // 20-query subset ran 36.8 s (bypass) vs 31.5 s (tungsten) — a stack
    // probe showed DiskBlockObjectWriter.open as the hottest non-idle
    // executor frame — while at R=8 bypass stays at par (13.99 vs
    // 14.77 s). Threshold 16 keeps bypass exactly for the tiny-R shuffles
    // where it wins and is inert at production widths (R ≫ 200 already
    // uses the tungsten writer under any threshold). Set BEFORE the env
    // overlay so SPARK_GRAFT_CONF sweeps can still override it.
    builder.config("spark.shuffle.sort.bypassMergeThreshold", "16")
    sys.env.get("SPARK_GRAFT_CONF").foreach {
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty =>
            builder.config(k.trim, v.trim)
          case _ =>
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_CONF segment is not k=v: '$kv'")
        }
      }
    }
    builder
  }
}
