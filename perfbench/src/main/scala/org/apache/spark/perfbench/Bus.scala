package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.CacheManager

/** Spark state a traced run reads that Spark keeps private. */
object Bus {
  /** The listener bus delivers events asynchronously. A traced run waits
    * for it to empty before reading what its listeners recorded, so every
    * event of an operation is counted with that operation.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Relations the session's cache manager holds. */
  def cachedRelations(spark: SparkSession): Int = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[_]].size
  }
}
