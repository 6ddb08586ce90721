package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + exact-arithmetic helpers shared by all graft queries.
  *
  * Determinism note: the driver cross-checks every query against a DuckDB
  * oracle by hashing result values. Double-precision sums are
  * order-dependent (Spark partial aggregation reorders additions), so all
  * "money math" first casts the 2-decimal double columns to DECIMAL —
  * exact in both engines — and only casts back to DOUBLE at the very end.
  * The matching DuckDB fragments live in [[graft.oracle.Fragments]];
  * this object holds Spark helpers only.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
  // NOTE (r13, measured): do NOT blanket-repartition small/single-
  // row-group inputs here to chase scan-stage parallelism. A global
  // documents.repartition(cores) was A/B-probed at sf0.1/local[32]:
  // a handful of per-row-heavy queries improved ~2x (x39), but the
  // family as a whole regressed badly (d22 3.4 -> 8.1 s, x40 1.8 ->
  // 4.1 s, d21 2.9 -> 4.6 s) — every broadcast build / multi-consumer
  // subtree re-executes its child THROUGH the injected exchange, so
  // total task time grew 10-30x. Queries that win from a wider scan
  // stage fan out locally, after their last self-join/broadcast reuse
  // of the raw scan.

  /** Events table with `ts` normalized to TimestampType regardless of the
    * parquet physical type (the generator wrote nanosecond timestamps,
    * which Spark's parquet reader rejects unless read as raw longs). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case TimestampType => df
      case LongType => // nanosAsLong fallback: ns since epoch.
        // Integer `div`, NOT `/`: ns values (~1.7e18) exceed double's
        // 53-bit mantissa, so `col / 1000` (double division) is off by up
        // to ~256 ns — enough to flip a boundary-exact event into the
        // previous microsecond/second after truncation.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** 2-decimal money double -> exact decimal. */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact decimal sum, surfaced as double (bit-identical to DuckDB's
    * CAST(SUM(CAST(x AS DECIMAL(12,2))) AS DOUBLE)). */
  def dsum(c: Column): Column = sum(c).cast(DoubleType)

  /** lineitem revenue term: extendedprice * (1 - discount), exact.
    * Result cast to DECIMAL(18,4) so downstream products stay within
    * precision 38 in both engines. */
  def revenue: Column =
    (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
      .cast(DecimalType(18, 4))
}
