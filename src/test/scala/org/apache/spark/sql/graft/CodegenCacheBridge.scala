package org.apache.spark.sql.graft

import org.apache.spark.util.NonFateSharingCache

/** Test-only doorway to Spark's per-JVM cache of compiled generated classes
  * (`CodeGenerator`'s private `cache`), so a spec can start from a cold
  * cache and read how many classes it holds.
  */
object CodegenCacheBridge {
  private def cache: NonFateSharingCache[_, _] = {
    val f = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    f.setAccessible(true)
    f.get(null).asInstanceOf[NonFateSharingCache[_, _]]
  }

  def size: Long = cache.size

  def clear(): Unit = cache.invalidateAll()
}
