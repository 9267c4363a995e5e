package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The private[sql] doorways the library needs: turning a custom
  * LogicalPlan node into a DataFrame (Spark exposes no public constructor
  * for this, so — like every plan-extending Spark library — this object
  * lives under `org.apache.spark.sql` solely to reach `Dataset.ofRows`),
  * unloading the state-store provider registry between throwaway
  * streaming drains, and draining the listener bus for `graft.Probe`.
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
