package graft.expressions

/** Exact int64 division a/b under a rounding rule (reference
  * util/round/integer.pyx `round_div`): `Math.floorDiv`/`floorMod`,
  * then one step up when the rule says so, decided by comparing the
  * remainder with its distance to the divisor — no wider type, no
  * overflow in between. Throws ArithmeticException on a zero divisor
  * and when the quotient does not fit (Long.MinValue / -1). */
object RoundDiv {
  /** The reference's `valid_rules` (util/round/__init__.py), in id order. */
  val rules: Seq[String] = Seq(
    "floor", "ceiling", "down", "up",
    "half_floor", "half_ceiling", "half_down", "half_up", "half_even")

  def compute(a: Long, b: Long, ruleId: Int): Long = {
    if (b == 0L) throw new ArithmeticException("graft_round_div: division by zero")
    if (a == Long.MinValue && b == -1L)
      throw new ArithmeticException("graft_round_div: long overflow")
    val q = Math.floorDiv(a, b)
    val m = Math.floorMod(a, b) // sign of b, |m| < |b|
    if (m == 0L) return q
    // |m| against |b| - |m| (m and b - m share b's sign: no overflow)
    val half = java.lang.Long.compare(math.abs(m), math.abs(b - m))
    val negQ = (a < 0) != (b < 0) // the true quotient is negative
    val up = ruleId match {
      case 0 => false // floor
      case 1 => true // ceiling
      case 2 => negQ // down: toward zero
      case 3 => !negQ // up: away from zero
      case 4 => half > 0 // half_floor
      case 5 => half >= 0 // half_ceiling
      case 6 => half > 0 || (half == 0 && negQ) // half_down: ties toward zero
      case 7 => half > 0 || (half == 0 && !negQ) // half_up: ties away from zero
      case _ => half > 0 || (half == 0 && (q & 1L) != 0L) // half_even
    }
    if (up) q + 1 else q
  }
}
