package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge

/** The local session every dev main runs on (Bench, QueryProbe, Verify,
  * RegimeBench, PlanDump, CertifyDup). */
object GraftSession {

  /** Local cores, from `SPARK_GRAFT_CPUS` (default 4). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with as many shuffle partitions, AQE, graft's
    * extensions, UTC session time, no UI and WARN logging. */
  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cache and persistent RDD earlier queries left, so the
    * next one is timed alone: `clearCache` covers only the
    * CacheManager, while checkpoint blocks live as bare persistent
    * RDDs until a driver GC and pile heap pressure onto later queries
    * (s3_ann_ivf measured 1.3 s to 12.5 s depending on how much the
    * graph queries left). */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(PlanBridge.unpersist)
  }
}
