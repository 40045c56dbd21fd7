package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** The non-public members the benchmark reads. */
object Access {
  /** Listener events are delivered asynchronously, so per-pass counters
    * are read only after the bus has drained.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries registered in the session's CacheManager (`Dataset.cache`,
    * `CACHE TABLE`); the manager exposes only `isEmpty`.
    */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[ClassicSession].sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }
}
