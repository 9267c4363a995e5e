package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test-only doorway to the private[sql] step that copies extension-injected
  * functions into a registry, so a spec can list what an extensions class
  * registers without building a session from it.
  */
object ExtensionsBridge {
  def functionsOf(configure: SparkSessionExtensions => Unit): Set[FunctionIdentifier] = {
    val ext = new SparkSessionExtensions
    configure(ext)
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().toSet
  }
}
