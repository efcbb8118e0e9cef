package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.util.NonFateSharingCache

/** The Spark internals the serving-cost specs read: listener events arrive
  * asynchronously, so job counters are read only after the bus drains; and
  * the process-wide codegen cache, whose keys are the generated sources.
  */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def codegenCache: NonFateSharingCache[_, _] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  /** The codegen cache's entries now: one per generated source and class
    * loader (the driver's and the executor's threads compile separately).
    */
  def cachedEntries(): Seq[(AnyRef, String)] = {
    import scala.jdk.CollectionConverters._
    val guava = classOf[NonFateSharingCache[_, _]].getDeclaredField("cache")
    guava.setAccessible(true)
    val cache = guava.get(codegenCache)
    val map = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap").invoke(cache)
      .asInstanceOf[java.util.Map[(AnyRef, CodeAndComment), AnyRef]]
    map.keySet().asScala.toSeq.map { case (loader, code) => (loader, code.body) }
  }

  def clearCodegenCache(): Unit = codegenCache.invalidateAll()
}
