package graft.functions

import graft.expressions.{Kernels, RoundDiv}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vectorized rounding with customizable rules, re-expressing the
  * reference's util/round package (round_float: util/round/float.pyx,
  * round_div: util/round/integer.pyx, Tolerance.snap:
  * util/round/tolerance.pyx).
  *
  * The float and decimal kernels are Column expressions over Spark
  * built-ins (floor/ceil/sign/pmod) using only IEEE-deterministic ops,
  * so results are identical on any engine evaluating the same formula
  * (the DuckDB oracle mirrors them); `roundDiv` is the native exact
  * int64 kernel graft.expressions.RoundDiv.compute. All are whole-stage-codegen
  * friendly, no UDFs.
  */
object Rounding {

  /** The reference's `valid_rules` (util/round/__init__.py). */
  val validRules: Seq[String] = RoundDiv.rules

  /** Round a double column to `decimals` places under `rule`. */
  def roundFloat(x: Column, rule: String, decimals: Int = 0): Column = {
    val s = math.pow(10, decimals)
    val y = x * lit(s)
    val f = floor(y)
    val scaled = rule match {
      case "floor" => f
      case "ceiling" => ceil(y)
      case "down" => signum(y) * floor(abs(y)) // toward zero
      case "up" => signum(y) * ceil(abs(y)) // away from zero
      case "half_floor" => ceil(y - 0.5)
      case "half_ceiling" => floor(y + 0.5)
      case "half_down" => signum(y) * ceil(abs(y) - 0.5) // ties toward zero
      case "half_up" => signum(y) * floor(abs(y) + 0.5) // ties away from zero
      case "half_even" =>
        val frac = y - f
        val fEven = (f - lit(2d) * floor(f / 2d)) === lit(0d)
        when(frac > 0.5, f + 1)
          .when(frac < 0.5, f)
          .otherwise(when(fEven, f).otherwise(f + 1))
      case other => throw new IllegalArgumentException(s"unknown rounding rule: $other")
    }
    scaled / lit(s)
  }

  /** Integer division a/b under `rule`, exact over the whole int64
    * range (no float or decimal detour). Both operands must be
    * integral; b nonzero. Mirrors round_div. */
  def roundDiv(a: Column, b: Column, rule: String): Column =
    Kernels.roundDiv(a.cast(LongType), b.cast(LongType), rule)

  /** Round a DECIMAL column to `decimals` places under `rule`, staying
    * in exact decimal arithmetic throughout (reference round_decimal,
    * util/round/decimal.pyx). No doubles anywhere: scaling, the ±0.5
    * tie shifts, and parity checks are all decimal/integer ops. */
  def roundDecimal(x: Column, rule: String, decimals: Int = 0): Column = {
    val p = lit(java.math.BigDecimal.TEN.pow(decimals))
    val half = lit(new java.math.BigDecimal("0.5"))
    val y = x * p
    val f = floor(y)
    val cl = ceil(y)
    val nonNeg = x >= 0
    val scaled = rule match {
      case "floor" => f
      case "ceiling" => cl
      case "down" => when(nonNeg, f).otherwise(cl)
      case "up" => when(nonNeg, cl).otherwise(f)
      case "half_floor" => ceil(y - half)
      case "half_ceiling" => floor(y + half)
      case "half_down" => when(nonNeg, ceil(y - half)).otherwise(floor(y + half))
      case "half_up" => when(nonNeg, floor(y + half)).otherwise(ceil(y - half))
      case "half_even" =>
        val frac = y - f
        when(frac > half, f + 1)
          .when(frac < half, f)
          .otherwise(when(pmod(f, lit(2)) === 0, f).otherwise(f + 1))
      case other => throw new IllegalArgumentException(s"unknown rounding rule: $other")
    }
    (scaled / p).cast(DecimalType(38, math.max(decimals, 0)))
  }

  /** Tolerance snap (reference Tolerance/snap): round x to the nearest
    * integer scaled by `decimals` iff it lies within `tol` of it;
    * otherwise keep x unchanged. */
  def snap(x: Column, tol: Double, decimals: Int = 0): Column = {
    val nearest = roundFloat(x, "half_up", decimals)
    when(abs(x - nearest) <= lit(tol), nearest).otherwise(x)
  }
}
