package graft.ops

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Run-log / heartbeat table — the reference's reporting subsystem (K4).
  *
  * Reference: `track_execution` puts {identity, job_name, created} into a
  * `bert-etl-reporting` DynamoDB table on stage entry and deletes it on
  * exit (/root/reference/bert/deploy/reporting.py:92-118); the monitor
  * Lambda scans it to find stalled stages. In a single Spark application
  * the driver supervises executors natively, so what survives is the
  * AUDIT value: a durable append-only log of stage runs with status and
  * timing — queryable like any other table.
  *
  * Like the reference's one key-value put, an entry costs no Spark job:
  * the driver writes it as one single-row parquet file directly under the
  * log directory. The file is written under a `_tmp-` name, which Spark's
  * listing skips, and then renamed to `part-<uuid>.parquet`, so a reader
  * sees whole entries only and any number of writers can share one path.
  * Each file carries Spark's row-schema key, so `spark.read.parquet(path)`
  * gives the same schema as the Spark-appended entries of older logs.
  */
object RunLog {

  final case class Entry(
      run_id: String,
      stage: String,
      status: String, // started | succeeded | failed
      detail: String,
      wall_ms: Long,
      logged_at: java.sql.Timestamp)

  private val fileSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary run_id (STRING);
      |  optional binary stage (STRING);
      |  optional binary status (STRING);
      |  optional binary detail (STRING);
      |  required int64 wall_ms;
      |  optional int64 logged_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private val sparkRowSchema = Map(
    "org.apache.spark.sql.parquet.row.metadata" -> Encoders.product[Entry].schema.json).asJava

  def log(spark: SparkSession, path: String, e: Entry): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val id = UUID.randomUUID().toString
    val tmp = new Path(path, s"_tmp-$id")
    val fs = tmp.getFileSystem(conf)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(fileSchema).withExtraMetaData(sparkRowSchema).build()
      try {
        val g = new SimpleGroup(fileSchema)
        Seq("run_id" -> e.run_id, "stage" -> e.stage, "status" -> e.status, "detail" -> e.detail)
          .foreach { case (k, v) => if (v != null) g.add(k, v) }
        g.add("wall_ms", e.wall_ms)
        if (e.logged_at != null) g.add("logged_at", DateTimeUtils.fromJavaTimestamp(e.logged_at))
        w.write(g)
      } finally w.close()
      val dst = new Path(path, s"part-$id.parquet")
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"run log: cannot rename $tmp to $dst")
    } catch {
      case t: Throwable =>
        try fs.delete(tmp, false) catch { case NonFatal(d) => t.addSuppressed(d) }
        throw t
    }
  }

  /** Wrap a stage body with started/succeeded/failed entries. */
  def tracked[T](spark: SparkSession, path: String, runId: String, stage: String)(
      body: => T): T = {
    val t0 = System.currentTimeMillis()
    def now = new java.sql.Timestamp(System.currentTimeMillis())
    log(spark, path, Entry(runId, stage, "started", "", 0L, now))
    try {
      val out = body
      log(spark, path, Entry(runId, stage, "succeeded", "", System.currentTimeMillis() - t0, now))
      out
    } catch {
      case e: Throwable =>
        log(spark, path,
          Entry(runId, stage, "failed", String.valueOf(e.getMessage).take(500),
            System.currentTimeMillis() - t0, now))
        throw e
    }
  }
}
