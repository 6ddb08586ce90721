package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data skipping —
  * the lakehouse layout technique behind Delta/Iceberg `ZORDER BY`:
  * interleave the bits of several bounded dimension keys so that
  * range-sorting the single z-value co-locates rows that are close in
  * EVERY dimension at once. Files (or buckets) written in z-order
  * carry tight min/max footer stats on ALL clustered columns, so a
  * rectangle predicate prunes most of them — a 1-D sort gives tight
  * stats on one column and full-range stats on the rest.
  *
  * Reference scope note: the reference library has no storage-layout
  * surface; this is part of the large-scale-pipeline extension (the
  * graftbin footer-stats file skip and the Bucketed writers are the
  * consumers of exactly these stats).
  *
  * Everything is pure `functions._` bit arithmetic (shifts, masks,
  * ors) — whole-stage codegen, zero UDFs, and the identical expression
  * replays bit-for-bit in any engine with 64-bit integer ops (the
  * DuckDB oracle runs the same magic-number spread).
  */
object ZOrder {

  /** Spread the low 16 bits of `x` so bit i lands at position 2·i —
    * the classic 4-step mask doubling (Morton encoding; public-domain
    * bit-twiddling identity). Input is masked to 16 bits first. */
  def spread16(x: Column): Column = {
    val m0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit z-value of two 16-bit dimension keys: even bits from `a`,
    * odd bits from `b`. Callers pre-normalize dimensions into [0, 2¹⁶)
    * ([[normalize16]] — only RELATIVE locality matters). */
  def zvalue2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Min/max-scale a bounded integer key into [0, 2¹⁶): floor((c−mn)·
    * 2¹⁶ / (mx−mn+1)). Runs in doubles — products stay < 2³², exact in
    * a double, and the correctly-rounded divide + floor replay
    * identically on any IEEE engine. Without this, dimensions whose
    * values share constant high bits (dates!) collapse every row into
    * a handful of z-buckets. */
  def normalize16(c: Column, mn: Column, mx: Column): Column =
    floor((c - mn).cast("double") * lit(65536.0) /
      (mx - mn + lit(1L)).cast("double")).cast("long")

  /** Assign each row a z-bucket: the top `log2Buckets` bits of the
    * 32-bit z-value. Deterministic (no sort, no sampled range
    * boundaries) and map-only; a writer then lays out one file per
    * bucket (`repartition(col)` + the graftbin/Bucketed writers), so
    * every file's footer min/max is tight on BOTH dimensions. */
  def zbucket2(a: Column, b: Column, log2Buckets: Int): Column = {
    require(log2Buckets >= 1 && log2Buckets <= 32, "1..32 bucket bits")
    shiftrightunsigned(zvalue2(a, b), 32 - log2Buckets)
  }

  /** Per-bucket layout audit: rows plus min/max of both dimension
    * keys (RAW coordinates — the exact stats a footer-based skip
    * consults). Dimensions are min/max-normalized first (one tiny agg,
    * broadcast back). The skip win is measurable from this table:
    * buckets whose [min, max] on either dimension misses a query
    * rectangle are never read. */
  def layoutStats(df: DataFrame, a: Column, b: Column,
      log2Buckets: Int): DataFrame = {
    val base = df.select(a.cast("long").as("da"), b.cast("long").as("db"))
    bucketStats(base.crossJoin(broadcast(extents(base))), col("da"), col("db"),
      col("a_mn"), col("a_mx"), col("b_mn"), col("b_mx"), log2Buckets)
  }

  /** The one-row extents (a_mn, a_mx, b_mn, b_mx) of (da, db) rows. */
  def extents(base: DataFrame): DataFrame = base.agg(
    min(col("da")).as("a_mn"), max(col("da")).as("a_mx"),
    min(col("db")).as("b_mn"), max(col("db")).as("b_mx"))

  /** Per-bucket stats (zb, n_rows, a_min, a_max, b_min, b_max) of the
    * dimensions `a`, `b`, each normalized over the extent Columns
    * given — data-derived ones ([[layoutStats]], q62) or a pinned
    * layout contract (the S15 streaming fold). Counts add and mins /
    * maxes merge exactly, so the table folds across batches. */
  def bucketStats(df: DataFrame, a: Column, b: Column, aMn: Column,
      aMx: Column, bMn: Column, bMx: Column, log2Buckets: Int): DataFrame =
    df.select(a.cast("long").as("da"), b.cast("long").as("db"),
        zbucket2(normalize16(a.cast("long"), aMn, aMx),
          normalize16(b.cast("long"), bMn, bMx), log2Buckets).as("zb"))
      .groupBy("zb")
      .agg(count(lit(1)).as("n_rows"),
        min(col("da")).as("a_min"), max(col("da")).as("a_max"),
        min(col("db")).as("b_min"), max(col("db")).as("b_max"))
}
