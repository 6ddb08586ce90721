package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Bridge into `private[sql]` plan machinery needed by custom
  * operators (DataFrame-from-LogicalPlan) and by [[graft.Settle]]
  * (checkpoint materialization, cache-entry lookup, plan reads). */
object PlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runs the job that fills a lazily checkpointed frame's blocks —
    * what `localCheckpoint(eager = true)` runs after marking the RDD. */
  def materialize(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case r: LogicalRDD => r.rdd.doCheckpoint()
    case _ =>
  }

  /** Drops `rdd`'s blocks without waiting: what `RDD.unpersist(false)`
    * does, minus the warning it logs for every locally checkpointed
    * RDD, whose release is the point of a settle's checkpoint. */
  def unpersist(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  private def cacheManager(df: DataFrame) = df.sparkSession.sharedState.cacheManager

  /** The CacheManager entry holding `df`'s plan, as a token compared
    * by identity, if one exists. */
  def cacheEntry(df: DataFrame): Option[AnyRef] =
    cacheManager(df).lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** What executing `dfs` reads besides its sources: the RDD ids of the
    * checkpoint scans in their lineage and the cache entries their
    * execution would use — recursively through each cached plan — plus
    * those entries' block RDDs once materialized. */
  def reads(dfs: Seq[DataFrame]): (Set[Int], Seq[AnyRef]) = {
    val rdds = scala.collection.mutable.Set.empty[Int]
    val entries = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    def walk(p: LogicalPlan): Unit = p.foreach {
      case r: LogicalRDD => rdds += r.rdd.id
      case m: InMemoryRelation =>
        val entry = m.cacheBuilder
        if (!entries.exists(_ eq entry)) {
          entries += entry
          if (entry.isCachedColumnBuffersLoaded) rdds += entry.cachedColumnBuffers.id
          walk(entry.logicalPlan)
        }
      case _ =>
    }
    dfs.foreach { df =>
      val plan = df.queryExecution.analyzed
      walk(plan)
      walk(cacheManager(df).useCachedData(plan))
    }
    (rdds.toSet, entries.toSeq)
  }
}
