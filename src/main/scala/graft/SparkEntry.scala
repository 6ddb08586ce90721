package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The end-to-end curation pipeline — the composition the
    * library exists for (dedup + decontamination + quality + length
    * verdicts over the documents corpus). */
  def entry(spark: SparkSession): DataFrame =
    llm.LlmQueries.p1Curate(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each builds
    * inside a [[Settle]] scope named after it, so the caches and
    * checkpoints a query leaves behind are exactly those its result
    * reads. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (relational.Relational.queries ++ typesystem.TypeQueries.queries ++ llm.LlmQueries.queries)
      .map { case (name, q) =>
        name -> ((s: SparkSession, dir: String) => Settle.scope(name)(_ => q(s, dir)))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    oracle.RelationalOracle.sql ++ oracle.TypeOracle.sql ++ oracle.LlmOracle.sql
}
