package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import graft.expressions.{HllSketchAgg, Kernels, ThetaSketchAgg}

/** Mergeable sketch aggregates (SURVEY §7(f)). Theta/KMV sketches
  * complement the HLL distinct counts of q30 with SET OPERATIONS:
  * union/intersection/difference cardinality estimates across
  * pre-aggregated sketches — the only tractable shape for
  * "overlap between training sources" questions at 100 TB. */
object Sketches {

  /** Aggregate a column into a KMV theta sketch (binary blob; fixed
    * k·8 bytes; partial-aggregates merge map-side). */
  def thetaSketch(c: Column, k: Int = 1024): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** Distinct-count estimate of a sketch blob (exact below k). */
  def thetaEstimate(sketch: Column): Column = Kernels.thetaEstimate(sketch)

  /** Sketch-union of two blobs (same k) — itself a sketch. */
  def thetaUnion(a: Column, b: Column): Column = Kernels.thetaUnion(a, b)

  /** Intersection-cardinality estimate of two sketch blobs. */
  def thetaIntersect(a: Column, b: Column): Column = Kernels.thetaIntersect(a, b)

  /** Aggregate a column into an md5-register HLL (4096-byte blob;
    * partial registers MAX-merge map-side; the estimate — not just the
    * shape — replays in SQL, see graft.expressions.HllSketch). Values
    * hash by their string rendering. CROSS-ENGINE REPLAY CONTRACT:
    * only integral and string columns render identically everywhere
    * (Spark prints 1.0e7 as "1.0E7", DuckDB as "10000000.0"; timestamp
    * renders differ in sub-second digits) — estimates on other types
    * are still correct, but an oracle must mirror Spark's rendering,
    * not just CAST(x AS VARCHAR). Spark's DataSketches
    * `hll_sketch_agg` is the one-line swap when replayability isn't
    * needed. */
  def hllSketch(c: Column): Column =
    ColumnBridge.column(
      HllSketchAgg(ColumnBridge.expression(c.cast("string")))
        .toAggregateExpression())

  /** Distinct-count estimate of an HLL register blob. */
  def hllEstimate(sketch: Column): Column = Kernels.hllEstimate(sketch)

  /** Register-wise MAX union of two HLL blobs — itself a sketch. */
  def hllUnion(a: Column, b: Column): Column = Kernels.hllUnion(a, b)

  /** Fixed-grid histogram of `xCol` per `gCol` group: (g, b, c) cell
    * counts on a CALLER-SUPPLIED [lo, hi] grid — the mergeable state
    * behind histogram quantiles (q60 derives its grid from a first
    * min/max pass; streaming/incremental callers pin the grid up front
    * and fold cell counts by plain addition across batches). Values
    * outside the grid clamp to the edge cells. */
  def histCounts(df: org.apache.spark.sql.DataFrame, gCol: String,
      xCol: String, lo: Double, hi: Double,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(gCol).as("g"), col(xCol).cast("double").as("x"))
      .select(col("g"),
        when(lit(hi) === lit(lo), lit(0))
          .otherwise(greatest(lit(0), least(lit(buckets - 1),
            floor((col("x") - lit(lo)) / (lit(hi) - lit(lo)) * buckets)
              .cast("int")))).as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
  }

  /** Quantile estimates from folded histogram state (the q60 read
    * path): per group, est(q) = lower edge of the first cell whose
    * cumulative count reaches ⌈q·n⌉. State is cells-per-group sized;
    * the window/aggregate run over that tiny frame, never the data. */
  def histQuantiles(hist: org.apache.spark.sql.DataFrame,
      lo: Double, hi: Double, buckets: Int,
      qs: Seq[(Double, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cum = hist
      .withColumn("cum", sum("c").over(Window.partitionBy("g").orderBy("b")))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
    val aggs = qs.map { case (q, name) =>
      round(min(when(col("cum") >= ceil(lit(q) * col("n")),
        lit(lo) + (lit(hi) - lit(lo)) / buckets * col("b"))), 6).as(name)
    }
    cum.groupBy("g").agg(aggs.head, aggs.tail: _*).orderBy("g")
  }
}
