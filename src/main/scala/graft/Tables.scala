package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every query receives an `sfDir` (e.g. /root/testdata/sf0.01); tables are
  * one parquet file/dir each. Reads are plain parquet scans so Catalyst can
  * push filters and prune columns down to the scan — at 100 TB the scan is
  * the dominant cost and pushdown/pruning is what keeps it linear in the
  * columns/rows actually needed.
  *
  * A load starts no Spark job: [[read]] takes the schema from one parquet
  * footer on the driver and hands it to the reader, where
  * `spark.read.parquet` would run a one-task schema-inference job per call
  * (30–60 ms each, a dozen per registry pass). Nothing is memoized; every
  * call reads the footer again, so a rewritten table is never served a
  * stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // The generator writes timestamps with isAdjustedToUTC=false; Spark 4
    // infers those as TIMESTAMP_NTZ by default, which watermarks,
    // unix_micros and interval arithmetic all reject. Graft sessions
    // disable NTZ inference once at build time (SessionConf.overlay);
    // ntzToLtz below is the belt for sessions built elsewhere (UTC
    // sessions make the cast byte-identical to reading as LTZ).
    val df = ntzToLtz(read(spark, path))
    // The driver-generated files hold ONE parquet row group each, so a scan
    // is a single task no matter what maxPartitionBytes says — and every
    // downstream aggregate/join inherits that single thread. Fan out the
    // big tables after the (cheap, ~10 MB) scan so compute parallelizes;
    // sub-MB dimension tables stay single-partition (broadcast fodder).
    // At production scale inputs arrive as many files/row groups and this
    // branch must NOT fire (a full-table round-robin shuffle straight off
    // the scan is pure overhead there) — the 100× rehearsal caught the
    // original size-only test adding ~0.6 GB of shuffle to every lineitem
    // query over a 102-part input, so the guard also requires the input
    // to actually BE the few-big-files shape maxPartitionBytes cannot split.
    if (leafFileCount(spark, path) < 4 && fileSize(spark, path) > (1L << 18))
      // HASH fanout on the table's leading column (every sf table leads
      // with a near-unique id) rather than round-robin (r15 optimization,
      // guide §2.4/§2.5): round-robin repartition first pays a local
      // binary sort of the whole input (sortBeforeRepartition, needed for
      // retry determinism precisely because round-robin depends on row
      // order) — pure overhead on a deterministic scan; hash partitioning
      // is retry-safe by construction, skips the sort, and leaves the
      // table CLUSTERED by its id, so a downstream join/aggregate keyed on
      // that id reuses the exchange instead of shuffling again. Unique ids
      // spread uniformly (no synthetic-key collision skew).
      df.repartition(spark.sparkContext.defaultParallelism, col(df.columns.head))
    else df
  }

  /** Defensive belt to the conf above: cast any TIMESTAMP_NTZ column that
    * still slipped through (e.g. a reader planned before the conf was set)
    * to the session-TZ TIMESTAMP. No-op (returns `df` unchanged, no extra
    * Project) when no NTZ column exists — the common case.
    */
  def ntzToLtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    if (!df.schema.exists(_.dataType == TimestampNTZType)) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema comes from [[schemaOf]] and is passed to the reader, which
    * then only lists the files. A path with no readable footer (missing,
    * or a directory without data files) reads as before, so it fails with
    * Spark's own error. */
  def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema `spark.read.parquet(path)` infers, read from one footer on
    * the driver. The footer is the one Spark's non-merging inference reads:
    * `_common_metadata`, else `_metadata`, else the first data file in path
    * order, among the files Spark's file index lists ([[leafFiles]]).
    * Partition columns are not in the footer; the reader adds them from
    * the directory names as inference does. None when no such file
    * exists. */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val (files, conf) = leafFiles(spark, path)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map(PlanBridge.parquetFooterSchema(spark, _, conf))
  }

  /** The rows `spark.read.parquet(path).count()` counts, summed from the
    * data files' footers on the driver: no Spark job. 0 when nothing is at
    * `path`. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val (files, conf) = leafFiles(spark, path)
    files.filterNot(f => summaries.contains(f.getPath.getName))
      .map(PlanBridge.parquetFooterRowCount(_, conf)).sum
  }

  private val summaries = Seq("_common_metadata", "_metadata")

  /** The files Spark's file index lists under `path`, in path order
    * (hidden `_x`/`.x` names skipped, `key=value` partition directories
    * walked), with the Hadoop conf to read them. */
  private def leafFiles(spark: SparkSession, path: String): (Seq[FileStatus], Configuration) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => PlanBridge.hiddenPathName(c.getPath.getName))
        .flatMap(leaves)
    val files =
      if (!fs.exists(root)) Nil else leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    (files, conf)
  }

  private def fileSize(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Number of data files under `path` (1 for a plain single-file table;
    * part-file count for a directory table). Only the magnitude matters —
    * ≥4 files means the scan already parallelizes without help.
    */
  private def leafFileCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else if (fs.getFileStatus(p).isFile) 1
    else fs.listStatus(p).count(s => s.isFile && !s.getPath.getName.startsWith("_"))
  }

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as raw long (legacy conf)
    * and truncate to microseconds — same truncation DuckDB applies when it
    * loads TIMESTAMP_NS into its µs-resolution TIMESTAMP, so the oracle
    * agrees bit-for-bit. Narrow per-row projection; no perf impact.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    nanosAsLong(spark)
    val raw = load(spark, sfDir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }

  /** Read parquet TIMESTAMP(NANOS) as long nanos. [[SessionConf.overlay]]
    * sets this for every graft session; the set here is the fallback for a
    * session built without it, and leaves a graft session's conf alone. */
  private[graft] def nanosAsLong(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views named after themselves (for spark.sql). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") loadEvents(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
