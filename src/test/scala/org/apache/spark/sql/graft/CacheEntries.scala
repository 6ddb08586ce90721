package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Every CacheManager entry, as the identity token
  * `PlanBridge.cacheEntry` returns. The manager keeps the list in a
  * private field, so this test-only probe reads it reflectively. */
object CacheEntries {
  def apply(spark: SparkSession): Seq[AnyRef] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[CachedData]]
      .map(_.cachedRepresentation.cacheBuilder)
  }
}
