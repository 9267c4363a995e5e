package e2ebench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SessionConf, SparkEntry, Tables}
import graft.core.{Pipeline, Runner}
import graft.queries.{Exact, LearnQueries, PipelineQueries}

/** One benchmark run in one fresh JVM: build the session, run the
  * workload's ops once and hand their results to the orchestrator for the
  * DuckDB oracle check, warm up until op time levels off, then time ops in a
  * closed loop (one client) for the requested window.
  *
  * Protocol with run.py (stdout lines starting with "E2E "):
  *   E2E oracle {json}  -> the orchestrator checks the dumped results and
  *                         answers one stdin line: "ok" or "fail <names>"
  *   E2E result {json}  -> the run's samples and counters
  * Everything else on stdout/stderr is Spark noise.
  */
object Harness {

  final case class Conf(
      workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, seed: Long, warm: Int, minOps: Int, plantBadOp: Int)

  /** Cores of the local master (the benchmark box has 4): also the shuffle
    * partition count and the denominator of `spark.cpu_util`. */
  val Cpus = 4

  /** The result of one op: per part (a query, or the curated rollup) the
    * collected rows. */
  type OpOut = Seq[(String, Array[Row])]

  trait Workload {
    /** One-time work outside any op (e.g. checkpoints to replay from). */
    def prepare(): Unit = ()
    /** Oracle SQL per part, run by DuckDB over `tablesDir`. */
    def oracle: Seq[(String, String)]
    def tablesDir: String
    /** Result schema of one part, for the oracle dump. */
    def schema(part: String): StructType
    def op(t: Tracer): OpOut
    /** Untraced bookkeeping around a traced op (reading back what it wrote). */
    def traceBefore(): Unit = ()
    def traceAfter(t: Tracer): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("warm").toInt,
      kv("min-ops").toInt, kv.getOrElse("plant-bad-op", "-1").toInt)
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val spark = phase("session")(session(c))
    val tracer = new Tracer(spark)
    val wl: Workload = c.workload match {
      case "curate_ckpt" => new Curate(spark, c, replay = false)
      case "curate_replay" => new Curate(spark, c, replay = true)
      case "registry_mix" => new RegistryMix(spark, c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Oracle: the first op's results, dumped for DuckDB. Their digests are
    // the reference every timed op is compared against.
    val verified: Map[String, String] = phase("oracle") {
      wl.prepare()
      val first = phase("oracle.first_op")(runOp(spark, wl, Tracer.off))
      val dump = Paths.get(c.work, "verify")
      phase("oracle.dump")(first.foreach { case (name, rows) =>
        spark.createDataFrame(rows.toSeq.asJava, wl.schema(name)).coalesce(1)
          .write.mode("overwrite").parquet(dump.resolve(name).toString)
      })
      emit("oracle", Json.obj(
        "dir" -> Json.str(dump.toString), "tables" -> Json.str(wl.tablesDir),
        "sql" -> Json.obj(wl.oracle.map { case (k, v) => k -> Json.str(v) }: _*)))
      val reply = new BufferedReader(new InputStreamReader(System.in)).readLine()
      val bad = Option(reply).filter(_.startsWith("fail")).map(_.split(" ").drop(1).toSet)
        .getOrElse(if (reply == "ok") Set.empty[String] else first.map(_._1).toSet)
      // a part that failed the oracle has no trusted digest: every op fails
      first.map { case (n, rows) => n -> (if (bad(n)) "oracle-failed" else digest(rows)) }.toMap
    }

    // Warm-up on the workload's own ops. The count is fixed per workload,
    // read off the measured curve where op time levels off: a stopping rule
    // that watches op times stops at different points of a still-falling
    // curve from run to run, which spreads the timed medians.
    val warm = phase("warm") {
      Seq.fill(c.warm) {
        val t0 = System.nanoTime()
        runOp(spark, wl, Tracer.off)
        (System.nanoTime() - t0) / 1e9
      }
    }
    emit("timing", Json.obj("phase" -> Json.str("start")))

    // Timed window: closed loop, one client. Cache clears and the digest
    // check run outside each op's interval.
    val loadStart = loadavg()
    val untraced, traced = mutable.ArrayBuffer[Double]()
    var attempted, failed, opIdx = 0
    val windowStart = System.nanoTime()
    // the window lasts --seconds and at least minOps ops, so that a workload
    // of long ops gets a true median; a traced run gets a traced op
    while ((System.nanoTime() - windowStart) / 1e9 < c.seconds || attempted < c.minOps ||
        (c.trace && traced.isEmpty)) {
      // in a traced run every other op is traced; the untraced ones give
      // the overhead baseline in the same JVM
      val tracing = c.trace && opIdx % 2 == 1
      if (tracing) { wl.traceBefore(); tracer.begin() }
      val t0 = System.nanoTime()
      val out = try Some(runOp(spark, wl, if (tracing) tracer else Tracer.off))
        catch { case NonFatal(e) => System.err.println(s"[e2ebench] op failed: $e"); None }
      val dt = (System.nanoTime() - t0) / 1e9
      if (tracing) tracer.end(dt)(wl.traceAfter(tracer))
      attempted += 1
      val ok = out.exists(_.forall { case (n, rows) =>
        val d = digest(rows)
        verified.get(n).contains(if (opIdx == c.plantBadOp) d + "-planted" else d)
      })
      if (!ok) failed += 1
      (if (tracing) traced else untraced) += dt
      opIdx += 1
    }
    val window = (System.nanoTime() - windowStart) / 1e9
    emit("result", Json.obj(
      "workload" -> Json.str(c.workload),
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "op_s" -> Json.arr(untraced.map(Json.num(_)).toSeq: _*),
      "op_s_traced" -> Json.arr(traced.map(Json.num(_)).toSeq: _*),
      "warm_s" -> Json.arr(warm.map(Json.num(_)).toSeq: _*),
      "window_s" -> Json.num(window),
      "phases" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadavg()),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "layers" -> (if (c.trace) tracer.summary() else Json.obj()),
      "spans" -> (if (c.trace) tracer.spansJson() else Json.arr())))
    spark.stop()
  }

  /** One op from a clean cache, like Bench: cached tables and the unigram
    * memo are dropped first so no op is served from a previous one. */
  private def runOp(spark: SparkSession, wl: Workload, t: Tracer): OpOut = {
    spark.catalog.clearCache()
    LearnQueries.clearMemo()
    t.span("op")(wl.op(t))
  }

  def session(c: Conf): SparkSession = {
    val w = Paths.get(c.work)
    val spark = SessionConf.overlay(SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", w.resolve("local").toString)
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toString)
      // streaming drains default to /dev/shm; keep every write in the run dir
      .config("spark.graft.streamCkptRoot", w.resolve("stream").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Order-independent digest of a result: sorted row renderings. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case NonFatal(_) => "" }

  def emit(kind: String, j: String): Unit = {
    println(s"E2E $kind $j")
    System.out.flush()
  }

  // ---------------------------------------------------------------------------

  /** The five curation stages of PipelineQueries.qCurationPipeline, as a
    * Pipeline value so they can run through Runner.runCheckpointed.
    *
    * This is a copy: the library builds those stages inline in a DataFrame
    * and exposes no Pipeline for them, so curate_ckpt and curate_replay time
    * this copy, not the library's stages (registry_mix's q_curation_pipeline
    * does run the library's). A change to the library's stages is missed
    * here, and the oracle still passes as long as the copy matches
    * qCurationPipelineSql. Once the library exposes the stages as a
    * Pipeline value, call that and delete this copy. */
  def curationPipeline(spark: SparkSession, dir: String): Pipeline = {
    import org.apache.spark.sql.expressions.Window
    val norm = sha2(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "), 256)
    Pipeline(Tables.documents(spark, dir))
      .stage("quality_gate")(df => df
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_chars") >= 50 && col("n_tokens") >= 10))
      .stage("lang_gate")(df => df.filter(col("lang").isin("en", "de", "fr", "es")))
      .stage("exact_dedup")(df => df
        .withColumn("norm_hash", norm)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("norm_hash")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1))
      .stage("hash_sample")(df => df
        .filter(expr(Exact.md5IntExpr("CAST(doc_id AS STRING)", 1, 2)) < 192))
      .stage("rollup")(df => df.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        sum(col("n_tokens")).cast("bigint").as("total_tokens")))
  }

  val CurationStages: Seq[String] =
    Seq("quality_gate", "lang_gate", "exact_dedup", "hash_sample", "rollup")

  /** curate_ckpt: one op = one full checkpointed run with a RunLog.
    * curate_replay: one op = a replay from exact_dedup against checkpoints
    * written once in prepare(). */
  final class Curate(spark: SparkSession, c: Conf, replay: Boolean) extends Workload {
    val tablesDir: String = Paths.get(c.data, "curate").toString
    val ckpt: String = Paths.get(c.work, "ckpt").toString
    val runLog: String = Paths.get(c.work, "runlog").toString
    private lazy val rollupSchema = curationPipeline(spark, tablesDir).plan.schema
    def schema(part: String): StructType = rollupSchema
    def oracle: Seq[(String, String)] = Seq("curation" -> PipelineQueries.qCurationPipelineSql)
    override def prepare(): Unit =
      if (replay) Runner.runCheckpointed(spark, curationPipeline(spark, tablesDir), ckpt,
        runLogPath = Some(runLog)).collect()
    def op(t: Tracer): OpOut = {
      val out = t.span("runner") {
        Runner.runCheckpointed(spark, curationPipeline(spark, tablesDir), ckpt,
          replayFrom = if (replay) Some("exact_dedup") else None,
          runLogPath = Some(runLog))
      }
      Seq("curation" -> t.span("collect")(out.collect()))
    }
    private val seen = mutable.Set[String]()
    override def traceBefore(): Unit = seen ++= Tracer.parquetFiles(runLog)
    override def traceAfter(t: Tracer): Unit = {
      t.runLogRead(runLog, seen)
      t.dirStats("runner.ckpt", ckpt)
    }
  }

  /** registry_mix: one op = one pass over nine registry queries in a
    * seed-shuffled order, each fully materialized. */
  final class RegistryMix(spark: SparkSession, c: Conf) extends Workload {
    val tablesDir: String = c.data
    val order: Seq[String] = new scala.util.Random(c.seed).shuffle(RegistryMix.Queries)
    private val schemas = mutable.Map[String, StructType]()
    def schema(part: String): StructType = schemas(part)
    def oracle: Seq[(String, String)] = order.map(q => q -> SparkEntry.oracleSql(q))
    def op(t: Tracer): OpOut = order.map { q =>
      t.span(s"q.$q") {
        val df = t.span(s"q.$q.build")(SparkEntry.queries(q)(spark, tablesDir))
        t.span(s"q.$q.plan")(df.queryExecution.executedPlan)
        schemas(q) = df.schema
        q -> t.span(s"q.$q.exec")(df.collect())
      }
    }
  }

  object RegistryMix {
    val Queries: Seq[String] = Seq(
      "q_edit_distance", "q_dedup_clusters", "q_ann_ivf_kernel", "q_cosine_topk",
      "q_stream_tumbling", "q_asof_join", "q_asof_native", "q_curation_pipeline",
      "q5_multi_join")
  }
}
