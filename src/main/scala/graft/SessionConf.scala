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
    // Compiled generated code. Spark keeps one LRU cache of Janino classes
    // per JVM, keyed by (thread context class loader, source text), and
    // sizes it ONCE: `CodeGenerator`'s static initializer reads
    // `spark.sql.codegen.cache.maxEntries` from `SQLConf.get` when the
    // object is first touched, in practice at the first compile. A session
    // built outside this overlay that compiles first leaves the JVM at
    // Spark's 100 for good. Measured at local[4]:
    // - one e2ebench `registry_mix` pass (nine queries, sf0.005) builds
    //   ~230 distinct classes, so at 100 each pass recompiled nearly all of
    //   them (222 of 230 at sf0.001; ~9 ms each);
    // - a `graft.Probe all` sweep at sf0.1 builds 4,334, but each query's
    //   set (at most ~100) repeats only within that query.
    // 512 is the smallest power of two at least twice the pass. Cost: a
    // cached class is ~2.4 KB of bytecode and ~7 KB of metaspace (Probe all
    // peaked at 233 MB of metaspace with 100 entries, 263 MB with all
    // 4,334 kept), so 512 entries hold ~4 MB off heap; Probe all at 512
    // peaked at 235 MB and compiled 5,434 classes instead of 10,495.
    builder.config("spark.sql.codegen.cache.maxEntries", "512")
    // Two cache misses the size cannot fix, both measured as every-pass
    // recompiles and both inert for results:
    // - a whole-stage class is named after its codegen stage id, and
    //   q_ann_ivf_kernel's ids change from run to run, so the same source
    //   compiled as GeneratedIteratorForCodegenStage12 in one run and as
    //   ...Stage15 to ...Stage20 in the next (4-20 classes a run). Without
    //   the id the name is GeneratedIterator; the plan's `*(n)` markers
    //   keep it.
    // - a streaming query runs on a clone of its session, and with artifact
    //   isolation each clone brings its own class loader to the driver and
    //   the tasks, so q_stream_tumbling's 12 classes missed on every drain.
    //   graft adds no artifacts (jars, files) to a session, so every
    //   session sharing the application's loader loses nothing.
    builder.config("spark.sql.codegen.useIdInClassName", "false")
    builder.config("spark.sql.artifact.isolation.enabled", "false")
    // All three are set BEFORE the env overlay so SPARK_GRAFT_CONF sweeps
    // can still override them.
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
