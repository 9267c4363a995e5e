package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The private[sql] doorways the library needs: turning a custom
  * LogicalPlan node into a DataFrame (Spark exposes no public constructor
  * for this, so — like every plan-extending Spark library — this object
  * lives under `org.apache.spark.sql` solely to reach `Dataset.ofRows`),
  * unloading the state-store provider registry between throwaway
  * streaming drains, draining the listener bus for `graft.Probe`, and
  * reading a parquet file's Spark schema the way Spark's own inference
  * does and its row count (for `graft.Tables`).
  * Nothing else in the library uses package-private Spark API.
  */
object PlanBridge {

  /** Drop every loaded state-store provider from this executor's
    * JVM-lifetime registry (r16 streaming-harness hygiene): a finished
    * drain over a deleted throwaway checkpoint leaves per-partition
    * providers loaded forever — heap pinned by their version maps, the
    * shared maintenance thread churning against missing directories.
    * Callers must ensure no streaming query is active in the process.
    */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Block until every event posted so far has reached the listeners:
    * listener delivery is asynchronous, so counters read right after an
    * action would otherwise miss its last tasks. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The schema Spark's parquet inference derives from `file`'s footer:
    * Spark's own row-schema key if the file carries one, else the parquet
    * schema converted under the session's SQLConf (nanos-as-long, NTZ
    * inference, binary-as-string), made nullable as every file-source
    * schema is. Reads the footer on the driver; starts no Spark job. */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** Rows in parquet `file`: the sum of its row groups' counts, read from
    * the footer on the driver. */
  def parquetFooterRowCount(file: FileStatus, conf: Configuration): Long =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER).getBlocks.stream().mapToLong(_.getRowCount).sum()

  /** True when Spark's file index skips a path of this name (`_x`, `.x`,
    * `x._COPYING_`; the `_metadata`/`_common_metadata` summaries are kept). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression for expressions whose arguments cannot travel
    * through the SQL function registry (e.g. a literal matrix parameter).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
