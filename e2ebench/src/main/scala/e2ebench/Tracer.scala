package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span tree and per-layer counters for one traced op, kept in memory.
  *
  * Spans wrap the benchmark's calls into the library (op -> runner / query
  * build / plan / exec). Each span sets the Spark local property
  * `e2ebench.span`, so every job submitted inside it (also from threads it
  * starts, such as a streaming drain) carries the span id; a SparkListener
  * folds stage and task metrics onto the job's span and a
  * StreamingQueryListener counts micro-batches. Listeners are attached only
  * for a traced op. `Tracer.off` records nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val Prop = "e2ebench.span"
  private var active = false
  private var opNo = 0
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()

  // per traced op
  private val jobSpan = mutable.Map[Int, Int]()        // job -> span
  private val jobSite = mutable.Map[Int, String]()     // job -> call site
  private val stageJob = mutable.Map[Int, Int]()       // stage -> job
  private val stageMaxTask = mutable.Map[Int, Long]()  // stage -> longest task ms
  private val stageDone = mutable.ArrayBuffer[StageInfo]()
  private val batches = mutable.ArrayBuffer[Double]()
  private var gc0 = 0L
  private val extra = mutable.LinkedHashMap[String, Double]()

  /** Per-layer values of every traced op. */
  private val records = mutable.ArrayBuffer[Map[String, Double]]()

  private lazy val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Prop))).foreach(s => jobSpan(e.jobId) = s.toInt)
      // the stage name is the call site: the first frame outside Spark
      jobSite(e.jobId) = e.stageInfos.headOption.map(_.name).getOrElse("")
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val d = e.taskInfo.duration
      if (d > stageMaxTask.getOrElse(e.stageId, 0L)) stageMaxTask(e.stageId) = d
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageDone += e.stageInfo
    }
  }

  private lazy val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        batches += Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.longValue / 1000.0).getOrElse(0.0)
      }
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      val s = Span(spans.size, stack.headOption.getOrElse(-1), opNo, name, System.nanoTime(), 0L)
      spans += s
      stack.push(s.id)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop, prev)
      }
    }

  def begin(): Unit = {
    Seq(jobSpan, jobSite, stageJob, stageMaxTask).foreach(_.clear())
    stageDone.clear(); batches.clear(); extra.clear()
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    gc0 = gcMillis()
    active = true
  }

  /** Close the traced op of wall time `opS`: detach the listeners (after
    * the listener bus has drained), run `after` untraced (e.g. reading the
    * RunLog back), then fold everything into one record. */
  def end(opS: Double)(after: => Unit): Unit = {
    val gc = gcMillis() - gc0
    active = false
    org.apache.spark.e2ebench.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    after
    records += synchronized(record(opS, gc))
    opNo += 1
  }

  /** RunLog rows written by this op: per-stage wall_ms and file counts. */
  def runLogRead(path: String, seen: mutable.Set[String]): Unit = {
    val fresh = Tracer.parquetFiles(path).filterNot(seen)
    seen ++= fresh
    extra("runlog.files") = fresh.size.toDouble
    extra("runlog.bytes") = fresh.map(f => Files.size(Paths.get(f))).sum.toDouble
    if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .where("status = 'succeeded'").select("stage", "wall_ms").collect()
        .foreach(r => extra(s"runner.stage_s.${r.getString(0)}") = r.getLong(1) / 1000.0)
    }
  }

  /** File count and bytes under a directory tree, as `<prefix>_files` /
    * `<prefix>_bytes`. */
  def dirStats(prefix: String, path: String): Unit = {
    val st = Files.walk(Paths.get(path))
    try {
      val fs = st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
      extra(s"${prefix}_files") = fs.size.toDouble
      extra(s"${prefix}_bytes") = fs.map(Files.size).sum.toDouble
    } finally st.close()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def record(opS: Double, gcMs: Long): Map[String, Double] = {
    val mine = spans.filter(_.op == opNo)
    val byId = mine.map(s => s.id -> s).toMap
    // a span's jobs include those of its descendants
    def under(spanId: Int, ancestor: Int): Boolean =
      spanId == ancestor || byId.get(spanId).exists(s => s.parent >= 0 && under(s.parent, ancestor))
    def jobsUnder(id: Int): Set[Int] = jobSpan.collect { case (j, s) if under(s, id) => j }.toSet
    val m = mutable.LinkedHashMap[String, Double]()
    val stages = stageDone.toSeq
    val tm = stages.map(_.taskMetrics).filter(_ != null)
    m("spark.jobs") = jobSite.size.toDouble
    m("spark.stages") = stages.size.toDouble
    m("spark.tasks") = stages.map(_.numTasks).sum.toDouble
    val cpu = tm.map(_.executorCpuTime).sum / 1e9
    m("spark.task_cpu_s") = cpu
    m("spark.cpu_util") = if (opS > 0) cpu / (opS * Harness.Cpus) else 0.0
    m("spark.gc_s") = tm.map(_.jvmGCTime).sum / 1e3
    m("spark.shuffle_write_bytes") = tm.map(_.shuffleWriteMetrics.bytesWritten).sum.toDouble
    m("spark.shuffle_read_bytes") = tm.map(t =>
      t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead).sum.toDouble
    m("spark.spill_bytes") = tm.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum.toDouble
    m("io.input_bytes") = tm.map(_.inputMetrics.bytesRead).sum.toDouble
    m("io.output_bytes") = tm.map(_.outputMetrics.bytesWritten).sum.toDouble
    m("stream.batches") = batches.size.toDouble
    m("stream.batch_s") = if (batches.isEmpty) 0.0 else batches.sum / batches.size
    m("jvm.driver_gc_s") = gcMs / 1e3
    val runLogJobs = jobSite.count(_._2.contains("RunLog"))
    m("runlog.jobs") = runLogJobs.toDouble
    mine.foreach { s =>
      val dur = (s.end - s.start) / 1e9
      if (s.name == "runner") m("runner.jobs") = jobsUnder(s.id).size.toDouble
      if (s.name.startsWith("q.") && s.name.count(_ == '.') == 2) {
        val stem = s.name.substring(0, s.name.lastIndexOf('.'))
        s.name.substring(s.name.lastIndexOf('.') + 1) match {
          case "build" => m(s"$stem.build_s") = dur
          case "plan" => m(s"$stem.plan_s") = dur
          case "exec" =>
            m(s"$stem.exec_s") = dur
            val longest = stageMaxTask.collect {
              case (st, ms) if stageJob.get(st).exists(jobsUnder(s.id)) => ms
            }.maxOption.getOrElse(0L)
            m(s"$stem.max_task_share") = if (dur > 0) longest / 1e3 / dur else 0.0
          case _ =>
        }
      }
      if (s.name.startsWith("q.") && s.name.count(_ == '.') == 1)
        m(s"${s.name}.jobs") = jobsUnder(s.id).size.toDouble
    }
    m ++= extra
    m("op_s") = opS
    m.toMap
  }

  /** Mean of each per-layer value over the traced ops (means, so that
    * additive parts such as the runner stage times and their remainder sum
    * to the mean op time). */
  def summary(): String = {
    val keys = records.flatMap(_.keys).distinct
    Json.obj(keys.map(k => k -> Json.num(records.map(_.getOrElse(k, 0.0)).sum / records.size.max(1))).toSeq: _*)
  }

  def spansJson(): String = Json.arr(spans.toSeq.map(s => Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
    "name" -> Json.str(s.name), "start_ns" -> Json.num(s.start.toDouble),
    "dur_s" -> Json.num((s.end - s.start) / 1e9))): _*)
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long)

  val off: Tracer = new Tracer(null)

  def parquetFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      finally st.close()
    }
  }
}

/** Just enough JSON to emit the harness's results. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d.isWhole && d.abs < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: String*): String = vs.mkString("[", ",", "]")
}
