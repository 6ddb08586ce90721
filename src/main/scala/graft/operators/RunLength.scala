package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Run-length compression of an ordered column — the distributed
  * re-expression of the reference's `sparse[T, fill]` storage decorator
  * (types/sparse.py): long runs of a repeated (fill) value collapse to
  * (start, length, value) triples.
  *
  * Ordering is by an explicit key column (global row order is
  * meaningless in a distributed table). Scale posture: the islands
  * computation is BLOCK-LOCAL — fixed-size key blocks, a window
  * partitioned by (block, value) whose partitions are bounded by the
  * block size — so a dominant fill value (the sparse norm!) never
  * lands in one task. Only runs touching a block edge (≤ 2 per block)
  * enter the cross-block merge, a gaps-and-islands pass over a
  * relation ~2·(keyspan/blockSize) rows — negligible next to the data.
  */
object RunLength {

  /** Encode: (value, start_key, run_len).
    * `orderCol` must be DENSE consecutive integers — that requirement is
    * what makes this scale: island identity within a block is
    * `k - row_number` over (block, value), bounded per task by
    * `blockSize` regardless of the value distribution. The cross-block
    * merge window has no `partitionBy`: it sorts the edge runs in one
    * task, at most 2 per block — 2·⌈keyspan/blockSize⌉ rows. */
  def encode(df: DataFrame, orderCol: String, valueCol: String,
      blockSize: Long = 1L << 20): DataFrame = {
    val minK = df.agg(min(col(orderCol)).cast("long")).head().getLong(0)
    val base = df.select(col(orderCol).cast("long").as("k"), col(valueCol).as("value"))
      .withColumn("blk", floor((col("k") - minK) / blockSize).cast("long"))
    // block-local gaps-and-islands: window partitions are (block, value)
    // slices, each at most blockSize rows
    val wVal = Window.partitionBy("blk", "value").orderBy("k")
    val localRuns = base
      .withColumn("grp", col("k") - row_number().over(wVal))
      .groupBy("blk", "value", "grp")
      .agg(min(col("k")).as("start_key"), max(col("k")).as("end_key"),
        count(lit(1)).as("run_len"))
    // a run can continue across a block boundary only if it touches the
    // block's first or last key — at most 2 runs per block qualify
    val blockStart = col("blk") * blockSize + minK
    val blockEnd = blockStart + blockSize - 1
    val touchesEdge = col("start_key") === blockStart || col("end_key") === blockEnd
    val interior = localRuns.filter(!touchesEdge)
      .select("value", "start_key", "end_key", "run_len")
    // merge edge runs: islands of same-value, key-contiguous runs. The
    // single-partition window is safe here — the edge relation is tiny
    // (≤ 2 rows per block) by construction.
    val wEdge = Window.orderBy("start_key")
    val merged = localRuns.filter(touchesEdge)
      .select("value", "start_key", "end_key", "run_len")
      .withColumn("brk",
        when(lag(col("end_key"), 1).over(wEdge).isNull ||
          !(col("value") <=> lag(col("value"), 1).over(wEdge)) ||
          col("start_key") =!= lag(col("end_key"), 1).over(wEdge) + 1, 1)
          .otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(wEdge.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("island"), col("value"))
      .agg(min(col("start_key")).as("start_key"), max(col("end_key")).as("end_key"),
        sum(col("run_len")).as("run_len"))
      .select("value", "start_key", "end_key", "run_len")
    interior.union(merged).select("value", "start_key", "run_len")
  }

  /** Decode an RLE table back to (key, value) rows. */
  def decode(rle: DataFrame): DataFrame =
    rle.select(col("value"),
        explode(sequence(col("start_key"),
          col("start_key") + col("run_len") - 1)).as("k"))
      .select(col("k"), col("value"))

  /** Compression summary: rows vs runs and the implied ratio. */
  def stats(df: DataFrame, orderCol: String, valueCol: String): (Long, Long, Double) = {
    val n = df.count()
    val runs = encode(df, orderCol, valueCol).count()
    (n, runs, if (runs == 0) 0.0 else n.toDouble / runs)
  }

  // ---------------------------------------------------------------------
  // Fill-aware compute ON the compressed form (reference types/sparse.py
  // arithmetic: operations act on sparse storage without densifying)
  // ---------------------------------------------------------------------

  /** Elementwise scalar op on an RLE relation: transforms O(runs)
    * value cells, never the O(rows) dense form. Run boundaries are
    * untouched (any pointwise f preserves run structure; the fill value
    * maps through the same f, mirroring `sparse[T, fill] op scalar →
    * sparse[T, f(fill)]`). */
  def mapValues(rle: DataFrame, f: Column => Column): DataFrame =
    rle.withColumn("value", f(col("value")))

  /** Aggregates folded from runs — sum/min/max/count and fill-aware
    * nnz, all computed as Σ over (value, run_len) triples without
    * decoding. One row: n, n_runs, sum_v, min_v, max_v, n_fill, nnz. */
  def aggregatesFromRuns(rle: DataFrame, fill: Column): DataFrame =
    rle.agg(
      sum(col("run_len")).as("n"),
      count(lit(1)).as("n_runs"),
      sum(col("value") * col("run_len")).as("sum_v"),
      min(col("value")).as("min_v"),
      max(col("value")).as("max_v"),
      sum(when(col("value") === fill, col("run_len")).otherwise(0L)).as("n_fill"),
      sum(when(col("value") === fill, 0L).otherwise(col("run_len"))).as("nnz"))
}
