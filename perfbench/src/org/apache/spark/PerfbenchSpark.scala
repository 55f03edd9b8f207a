package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Spark internals the benchmark needs, which Spark keeps package-private. */
object PerfbenchSpark {
  /** Waits for the listener bus: per-layer counters are read only after
    * every event of a pass has been delivered to the benchmark's listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties the JVM-wide cache of generated classes, so the next pass
    * compiles every class it needs, as a fresh JVM does. */
  def clearCodegenCache(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
