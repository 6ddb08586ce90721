package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.Settle
import graft.expressions.{HllSketchAgg, Kernels, ThetaSketchAgg, TopKAgg}

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

  /** Per-group top-k through the mergeable bounded heap [[TopKAgg]]:
    * (keys…, id, score, rk) with rk 1..k in (score desc, id asc)
    * order. Not a `row_number` window: the window funnels every row
    * of a group into one task, while the heap keeps ≤ k (score, id)
    * pairs per map partition per group and merges k-sized heaps, so
    * the reduce side is O(partitions × k) whatever the group size. The
    * heap is a semigroup (the k-cut of two k-cuts is the k-cut of
    * their union: an element outside both is beaten by ≥ k in its own
    * cut), so the same operator re-cuts folded state. q44, the S17
    * streaming fold, [[Sampling.groupQuota]] and the vector operators'
    * per-query top-k all call it; callers rename with a `select`. */
  def groupTopK(df: DataFrame, keys: Seq[Column], score: Column,
      id: Column, k: Int): DataFrame = {
    val heap = ColumnBridge.column(TopKAgg(ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())
    val cut = df.groupBy(keys: _*).agg(heap.as("tk"))
    val ks = cut.columns.init.toSeq.map(col)
    cut.select(ks :+ posexplode(col("tk")).as(Seq("pos", "e")): _*)
      .select(ks ++ Seq(col("e.id").as("id"), col("e.score").as("score"),
        (col("pos") + 1).cast("int").as("rk")): _*)
  }

  /** Exact per-token counts (tok, exact_n) of a `tok` column, the
    * empty token dropped: the input of [[countMinCells]]. */
  def countMinExact(tokens: DataFrame): DataFrame =
    tokens.filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("exact_n"))

  /** The `seeds` Count-Min rows of a token as (seed, bucket): bucket =
    * the first 15 hex digits of md5("<seed>|tok") mod `buckets`, so
    * every cell and estimate replays bit-exact in DuckDB. */
  private def countMinRows(tok: Column, seeds: Int, buckets: Int): Column =
    posexplode(array((0 until seeds).map(sd =>
      pmod(conv(substring(md5(concat(lit(sd + "|"), tok)), 1, 15), 16, 10)
        .cast("long"), lit(buckets))): _*)).as(Seq("seed", "bucket"))

  /** Count-Min sketch cells (seed, bucket, c) from an exact
    * (tok, exact_n) count table ([[countMinExact]]). Cells are purely
    * ADDITIVE, so summing per-token counts into cells equals counting
    * occurrences (associativity), and the md5 probes run once per
    * DISTINCT token instead of once per occurrence. The table is
    * seeds × buckets rows whatever the input, and folds across
    * partitions, batches and triggers by plain addition (x28 and the
    * S21 streaming fold). */
  def countMinCells(exact: DataFrame, seeds: Int, buckets: Int): DataFrame =
    exact.select(col("exact_n"), countMinRows(col("tok"), seeds, buckets))
      .groupBy("seed", "bucket").agg(sum("exact_n").as("c"))

  /** Count-Min point estimates for the `tok` rows of `probes`: their
    * columns plus cms_n = the min over the token's cells, guaranteed
    * ≥ the true count (every occurrence lands in each probed cell;
    * only collisions inflate it). An absent cell IS a zero count (the
    * sketch has proven the token unseen), so the coalesce runs BEFORE
    * the min. */
  def countMinEstimate(probes: DataFrame, cells: DataFrame, seeds: Int,
      buckets: Int): DataFrame = {
    val keys = probes.columns.toSeq.map(col)
    probes.select(keys :+ countMinRows(col("tok"), seeds, buckets): _*)
      .join(broadcast(cells), Seq("seed", "bucket"), "left")
      .groupBy(keys: _*).agg(min(coalesce(col("c"), lit(0L))).as("cms_n"))
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) probe over a
    * single `tok` column: `seeds` md5 hash rows × `buckets` cells,
    * estimates for the input's exact top-10 tokens ((cnt desc, token)
    * cut) and 5 md5-order sampled tokens, reading both the
    * heavy-hitter and the collision-noise regimes, next to their exact
    * counts: (tok, exact_n, cms_n, overcount). The exact-count table
    * serves the cells and both probe cuts, so it is cached; only
    * (seed, bucket) pairs and (token, count) rows shuffle, and the
    * cell table broadcasts to the probes. */
  def countMinProbe(tokens: DataFrame, seeds: Int, buckets: Int): DataFrame =
    Settle.scope("countMinProbe") { st =>
      val exact = st.cache(countMinExact(tokens))
      val heavy = exact.orderBy(col("exact_n").desc, col("tok")).limit(10)
      val sampled = exact.orderBy(md5(col("tok")), col("tok")).limit(5)
      countMinEstimate(heavy.unionByName(sampled).distinct(),
          countMinCells(exact, seeds, buckets), seeds, buckets)
        .select(col("tok"), col("exact_n"), col("cms_n"),
          (col("cms_n") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("tok"))
    }
}
