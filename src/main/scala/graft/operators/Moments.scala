package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared higher-moment kernels: the scale-free integer forms
  * M2 = nΣc²−(Σc)², M3 = n²Σc³−3nΣcΣc²+2(Σc)³,
  * M4 = n³Σc⁴−4n²ΣcΣc³+6n(Σc)²Σc²−3(Σc)⁴ over exact integer units
  * (order-insensitive at any partitioning), and the pinned IEEE
  * terminal expressions for sample skewness G1 and excess kurtosis
  * G2 (the pandas `skew()`/`kurt()` conventions). The batch t61
  * query and the S33 streaming monitor build their power sums through
  * [[powerSums]] and read them through these kernels, so both sides
  * are the same expression tree by construction.
  *
  * m2^1.5 is computed as m2·√m2 — multiply and sqrt are correctly
  * rounded IEEE ops, `pow(x, 1.5)` is not and diverges cross-engine.
  * Null guards: G1 below 3 obs, G2 below 4, both at the EXACT
  * integer M2 = 0 (a float zero-variance clamp is ulp-fragile). */
object Moments {
  import org.apache.spark.sql.types.{DecimalType, DoubleType}
  private val d38 = DecimalType(38, 0)
  private val d19 = DecimalType(19, 0)

  /** A 2-decimal money value as exact integer cents (long). */
  def cents(v: Column): Column =
    (graft.Tables.dec(v) * lit(100)).cast("long")

  /** The five exact power sums n, s1..s4 (Σc..Σc⁴, DECIMAL(38,0)) of
    * integer cents `c`, as aggregate columns; `over` turns each
    * aggregate into the caller's frame — a window (t61's expanding
    * sums) or, with `identity`, a group aggregate (S33, whose sums add
    * across batches). c⁴ stages c²·c² through DECIMAL(19,0), since
    * 56021⁴ ≈ 9.9e18 overflows int64. */
  def powerSums(c: Column, over: Column => Column): Seq[Column] = Seq(
    over(count(lit(1))).as("n"),
    over(sum(c)).cast(d38).as("s1"),
    over(sum(c * c)).cast(d38).as("s2"),
    over(sum((c * c * c).cast(d38))).cast(d38).as("s3"),
    over(sum((c * c).cast(d19) * (c * c).cast(d19))).cast(d38).as("s4"))

  /** (M2, M3, M4) from count + raw power sums (all exact decimals). */
  def kernels(n: Column, s1: Column, s2: Column, s3: Column,
      s4: Column): (Column, Column, Column) = {
    val nD = n.cast(d38)
    val m2 = nD * s2 - s1 * s1
    val m3 = nD * nD * s3 - lit(3).cast(d38) * nD * s1 * s2 +
      lit(2).cast(d38) * s1 * s1 * s1
    val m4 = nD * nD * nD * s4 -
      lit(4).cast(d38) * nD * nD * s1 * s3 +
      lit(6).cast(d38) * nD * s1 * s1 * s2 -
      lit(3).cast(d38) * s1 * s1 * s1 * s1
    (m2, m3, m4)
  }

  /** Pinned-IEEE G1 (sample skewness) with the pandas null guards.
    * `m2i/m3i` must be the EXACT decimal kernels. */
  def g1(n: Column, m2i: Column, m3i: Column): Column = {
    val nd = n.cast(DoubleType)
    val m2d = m2i.cast(DoubleType); val m3d = m3i.cast(DoubleType)
    when(n >= 3 && m2i > 0,
      (sqrt(nd * (nd - 1)) / (nd - 2)) * (m3d / (m2d * sqrt(m2d))))
  }

  /** Pinned-IEEE G2 (sample excess kurtosis) with the pandas guards. */
  def g2(n: Column, m2i: Column, m4i: Column): Column = {
    val nd = n.cast(DoubleType)
    val m2d = m2i.cast(DoubleType); val m4d = m4i.cast(DoubleType)
    when(n >= 4 && m2i > 0,
      ((nd + 1) * (nd - 1) / ((nd - 2) * (nd - 3))) *
        (m4d / (m2d * m2d)) -
        lit(3.0) * (nd - 1) * (nd - 1) / ((nd - 2) * (nd - 3)))
  }
}
