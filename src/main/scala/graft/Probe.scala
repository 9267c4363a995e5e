package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ops.ScaleGuardRefusal
import graft.plans.AsofJoinExec

/** The measurement tool (not part of the bench contract): profiles registry
  * queries one at a time and prints one JSON line per query to stdout.
  *
  * Before the first query the session is warmed as in Bench
  * ([[Bench.warmUp]]). Per query, one untimed run comes first, so no query
  * pays another's cold read. It is a `collect()` of the query's own frame,
  * which gives the result rows and lets AQE finalize that frame's plan: the
  * executed plan text and its join-operator histogram are read from it.
  * Then [[Runs]] timed runs, each from a clean cache, split Bench's one
  * number into
  *   - build: the query function call (eager driver work inside a builder:
  *     ScaleGuard footer reads, memo fills, streaming drains),
  *   - plan: analysis + optimization + physical planning (`executedPlan`),
  *   - exec: full materialization (`foreach`, the action Bench times);
  * best of the runs per phase. The Spark counters (jobs, stages, tasks,
  * shuffle bytes, spill, GC, executor CPU) and the micro-batches with their
  * `triggerExecution` ms cover the last timed run, build through exec.
  * `max_task_share` is that run's longest exec-phase task ÷ its exec wall
  * (as e2ebench computes it): near 1, one task held the whole exec.
  * `codegen_compiles` is the number of classes Janino compiled over that
  * run, build through exec (driver and tasks share the JVM's one counter):
  * a query whose untimed run already compiled its classes reads 0 unless
  * its generated code differs from run to run.
  *
  * A ScaleGuard refusal is recorded as a skip (the guard working), any
  * other error as a failure; the process exits nonzero if a query failed.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_CPUS=<n>] \
  *          sbt "runMain graft.Probe <query> [query ...]"   (or `all`)
  * Queries run in the order given; `all` runs the registry in name order.
  */
object Probe extends AdaptiveSparkPlanHelper {
  val Runs = 2

  final case class Record(
      query: String, status: String, error: String = "",
      buildS: Double = 0, planS: Double = 0, execS: Double = 0, rows: Long = 0,
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
      gcS: Double = 0, cpuS: Double = 0, maxTaskShare: Double = 0, codegenCompiles: Long = 0,
      joins: Map[String, Int] = Map.empty, batchMs: Seq[Long] = Nil, plan: String = "") {

    def json: String = {
      def str(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      def num(d: Double): String = f"$d%.3f"
      val head = Seq("query" -> str(query), "status" -> str(status))
      val fields =
        if (status != "ok") head :+ ("error" -> str(error))
        else head ++ Seq(
          "build_s" -> num(buildS), "plan_s" -> num(planS), "exec_s" -> num(execS),
          "rows" -> rows.toString, "jobs" -> jobs.toString, "stages" -> stages.toString,
          "tasks" -> tasks.toString, "shuffle_read_bytes" -> shuffleReadBytes.toString,
          "shuffle_write_bytes" -> shuffleWriteBytes.toString,
          "spill_bytes" -> spillBytes.toString, "gc_s" -> num(gcS), "cpu_s" -> num(cpuS),
          "max_task_share" -> num(maxTaskShare), "codegen_compiles" -> codegenCompiles.toString,
          "joins" -> joins.toSeq.sorted.map { case (k, v) => s"${str(k)}:$v" }
            .mkString("{", ",", "}"),
          "batches" -> batchMs.size.toString, "batch_ms" -> batchMs.mkString("[", ",", "]"),
          "plan" -> str(plan))
      fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  def main(args: Array[String]): Unit =
    if (run(args.toSeq)(SessionConf.local()) > 0) sys.exit(1)

  /** Probe the named queries on the session `session` builds (only after
    * the names and the data dir are checked; stopped at the end), printing
    * one JSON line each. Returns the number of failed queries. */
  def run(args: Seq[String])(session: => SparkSession): Int = {
    val names = select(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name the data directory"))
    val spark = session
    try {
      Bench.warmUp(spark, sfDir)
      val statuses = names.map { n =>
        val r = record(spark, n, sfDir)
        println(r.json)
        r.status
      }
      System.err.println(s"[probe] ${names.size} queries: " +
        Seq("ok", "skip", "fail").map(s => s"${statuses.count(_ == s)} $s").mkString(", "))
      statuses.count(_ == "fail")
    } finally spark.stop()
  }

  /** The query names `args` selects: `all`, or registry names kept in the
    * given order. Unknown names fail. */
  def select(args: Seq[String]): Seq[String] = {
    require(args.nonEmpty, "usage: graft.Probe <query> [query ...] | all")
    if (args == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
    else {
      val unknown = args.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
      args
    }
  }

  /** Profile one registry query on `spark` (see the object doc). */
  def record(spark: SparkSession, name: String, sfDir: String): Record = {
    val fn = SparkEntry.queries(name)
    // The cross-query unigram memo is cleared per run, as in Bench, so no
    // run is served from a previous one; clearCache is a guard (no query
    // leaves a CacheManager entry behind).
    def clean(): Unit = {
      spark.catalog.clearCache()
      graft.queries.LearnQueries.clearMemo()
    }
    try {
      clean()
      val warm = fn(spark, sfDir)
      val rows = warm.collect().length.toLong
      val finalPlan = warm.queryExecution.executedPlan
      val meter = new Meter
      val phases = (1 to Runs).map { i =>
        clean()
        if (i == Runs) meter.attach(spark)
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          if (i == Runs) meter.execFromMs = System.currentTimeMillis()
          df.foreach(_ => ())
          val t3 = System.nanoTime()
          Seq(t1 - t0, t2 - t1, t3 - t2)
        } finally if (i == Runs) meter.detach(spark)
      }
      val Seq(build, plan, exec) = phases.transpose.map(_.min / 1e9)
      val lastExecS = phases.last(2) / 1e9
      meter.synchronized(Record(name, "ok",
        buildS = build, planS = plan, execS = exec, rows = rows,
        jobs = meter.jobs, stages = meter.stages, tasks = meter.tasks,
        shuffleReadBytes = meter.shuffleRead, shuffleWriteBytes = meter.shuffleWrite,
        spillBytes = meter.spill, gcS = meter.gcMs / 1e3, cpuS = meter.cpuNs / 1e9,
        maxTaskShare = if (lastExecS > 0) meter.maxExecTaskMs / 1e3 / lastExecS else 0,
        codegenCompiles = meter.compiled,
        joins = joinHistogram(finalPlan), batchMs = meter.batchMs.toSeq,
        plan = finalPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }))
    } catch {
      case e: ScaleGuardRefusal =>
        Record(name, "skip", Option(e.getMessage).getOrElse("").takeWhile(_ != '.'))
      case NonFatal(e) =>
        Record(name, "fail",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
  }

  /** Classes Janino has compiled in this JVM so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Join operators of a final physical plan, subqueries and AQE query
    * stages included, by node name. */
  private def joinHistogram(plan: SparkPlan): Map[String, Int] =
    collectWithSubqueries(plan) {
      case j: BaseJoinExec => j.nodeName
      case j: AsofJoinExec => j.nodeName
    }.groupBy(identity).view.mapValues(_.size).toMap

  /** Spark counters, compiles and micro-batches of one run. Listener
    * events arrive asynchronously, so the bus is drained on attach (no
    * earlier run's events) and on detach (all of this run's). A task
    * launched at or after `execFromMs` belongs to the exec phase. */
  private final class Meter extends SparkListener {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, gcMs, cpuNs = 0L
    @volatile var execFromMs = Long.MaxValue
    var maxExecTaskMs, compiledBefore, compiled = 0L
    val batchMs = mutable.ArrayBuffer[Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo.launchTime >= execFromMs)
        maxExecTaskMs = math.max(maxExecTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
        cpuNs += m.executorCpuTime
      }
    }

    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Meter.this.synchronized {
          batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        }
    }

    def attach(spark: SparkSession): Unit = {
      compiledBefore = compiles()
      PlanBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(this)
      spark.streams.addListener(streams)
    }

    def detach(spark: SparkSession): Unit = {
      compiled = compiles() - compiledBefore
      PlanBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.streams.removeListener(streams)
    }
  }
}
