package graft

import graft.functions.Rounding
import java.math.RoundingMode
import org.scalatest.funsuite.AnyFunSuite

/** Exhaustive-grid differential tests: graft's Column rounding kernels
  * vs the JDK's BigDecimal reference semantics over dense value grids
  * including every tie point (batched into one DataFrame per rule). */
class RoundingPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val modes = Map(
    "floor" -> RoundingMode.FLOOR, "ceiling" -> RoundingMode.CEILING,
    "down" -> RoundingMode.DOWN, "up" -> RoundingMode.UP,
    "half_down" -> RoundingMode.HALF_DOWN, "half_up" -> RoundingMode.HALF_UP,
    "half_even" -> RoundingMode.HALF_EVEN)

  // magnitudes where scaled values stay exactly representable, plus
  // explicit tie points — the adversarial cases for rule divergence
  private val interesting: Seq[Double] = {
    val ties = for (k <- -40 to 40) yield k / 2.0 // …-0.5, 0, 0.5, 1.0…
    val tenths = for (k <- -100 to 100) yield k / 10.0
    ties ++ tenths
  }

  test("roundFloat(rule, 0) matches BigDecimal on ties and tenths") {
    val df = interesting.toDF("x")
    for ((rule, mode) <- modes) {
      val got = df.select(Rounding.roundFloat($"x", rule).as("r"))
        .as[Double].collect().toSeq
      val want = interesting.map(v =>
        new java.math.BigDecimal(v).setScale(0, mode).doubleValue())
      assert(got == want, s"rule=$rule")
    }
  }

  test("roundDiv matches BigDecimal integer division on a dense grid") {
    val grid = for {
      a <- -25L to 25L
      b <- Seq(-7L, -3L, -2L, -1L, 1L, 2L, 3L, 7L)
    } yield (a, b)
    val df = grid.toDF("a", "b")
    for ((rule, mode) <- modes) {
      val got = df.select(Rounding.roundDiv($"a", $"b", rule).as("q"))
        .as[Long].collect().toSeq
      val want = grid.map { case (a, b) =>
        new java.math.BigDecimal(a).divide(new java.math.BigDecimal(b), 0, mode)
          .longValueExact()
      }
      assert(got == want, s"rule=$rule")
    }
  }

  /** BigDecimal's quotient under `rule`; half_floor/half_ceiling break
    * ties toward -inf/+inf. */
  private def exactDiv(a: Long, b: Long, rule: String): java.math.BigDecimal = {
    val negQ = (a < 0) != (b < 0)
    val mode = rule match {
      case "half_floor" => if (negQ) RoundingMode.HALF_UP else RoundingMode.HALF_DOWN
      case "half_ceiling" => if (negQ) RoundingMode.HALF_DOWN else RoundingMode.HALF_UP
      case r => modes(r)
    }
    new java.math.BigDecimal(a).divide(new java.math.BigDecimal(b), 0, mode)
  }

  private def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  test("roundDiv is exact near Long.MinValue/Long.MaxValue for every rule") {
    val (lo, hi) = (Long.MinValue, Long.MaxValue)
    val edges = Seq(lo, lo + 1, lo + 2, -(1L << 62) - 1, -(1L << 62), -7L, -3L, -2L, -1L,
      0L, 1L, 2L, 3L, 7L, 1L << 62, (1L << 62) + 1, hi - 2, hi - 1, hi)
    // every pair whose quotient fits in a long: all but Long.MinValue / -1
    val grid = for (a <- edges; b <- edges if b != 0 && !(a == lo && b == -1)) yield (a, b)
    // a local relation folds through `eval`, an RDD scan runs codegen
    for (df <- Seq(grid.toDF("a", "b"), spark.sparkContext.parallelize(grid, 2).toDF("a", "b"));
        rule <- Rounding.validRules) {
      val got = df.select(Rounding.roundDiv($"a", $"b", rule).as("q")).as[Long].collect().toSeq
      got.zip(grid).foreach { case (q, (a, b)) =>
        assert(q == exactDiv(a, b, rule).longValueExact(), s"$rule: $a / $b")
      }
    }
  }

  test("roundDiv throws where the quotient overflows, and on a zero divisor") {
    def frames(a: Long, b: Long) =
      Seq(Seq((a, b)).toDF("a", "b"), spark.sparkContext.parallelize(Seq((a, b))).toDF("a", "b"))
    // Long.MinValue / -1 = 2^63 under every rule
    for (rule <- Rounding.validRules; df <- frames(Long.MinValue, -1L)) {
      val e = intercept[Exception](df.select(Rounding.roundDiv($"a", $"b", rule)).collect())
      assert(rootMessage(e).contains("overflow"), rule)
    }
    for (df <- frames(7L, 0L)) {
      val z = intercept[Exception](df.select(Rounding.roundDiv($"a", $"b", "floor")).collect())
      assert(rootMessage(z).contains("division by zero"))
    }
  }

  test("roundDecimal matches BigDecimal at scale 1 on cents grid") {
    val cents = for (k <- -500 to 500) yield k / 100.0
    val df = cents.toDF("x").select($"x".cast("decimal(12,2)").as("x"))
    for ((rule, mode) <- modes) {
      val got = df.select(Rounding.roundDecimal($"x", rule, 1)
        .cast("double").as("r")).as[Double].collect().toSeq
      val want = cents.map(v =>
        new java.math.BigDecimal(v).setScale(2, RoundingMode.HALF_UP)
          .setScale(1, mode).doubleValue())
      assert(got == want, s"rule=$rule")
    }
  }
}

/** Grid differential test for the timedelta string parser: render
  * component grids in every format family, parse with the Column
  * kernel, compare against directly-computed microseconds. */
class TimedeltaParsePropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.functions.TimeFns

  private val grid = for {
    sign <- Seq("", "-", "+")
    d <- Seq(0L, 1L, 23L)
    h <- Seq(0L, 1L, 11L)
    m <- Seq(0L, 5L, 59L)
    s <- Seq(0L, 9L, 59L)
  } yield (sign, d, h, m, s)

  private def signOf(s: String): Long = if (s == "-") -1L else 1L

  test("abbrev render → parse roundtrip over the component grid") {
    val cases = grid.collect { case (sign, d, h, m, s) if d + h + m + s > 0 =>
      val rendered = sign + (if (d > 0) s"${d}d" else "") +
        (if (h > 0) s"${h}h" else "") + (if (m > 0) s"${m}m" else "") +
        (if (s > 0) s"${s}s" else "")
      val expected = signOf(sign) *
        (d * 86400000000L + h * 3600000000L + m * 60000000L + s * 1000000L)
      (rendered, expected)
    }
    val got = cases.map(_._1).toDF("s")
      .select(TimeFns.timedeltaMicros($"s").as("us")).as[Long].collect()
    got.zip(cases.map(_._2)).zip(cases.map(_._1)).foreach { case ((g, e), r) =>
      assert(g == e, s"'$r': $g != $e")
    }
  }

  test("clock render → parse roundtrip (H:MM:SS, with day prefix)") {
    val cases = grid.map { case (sign, d, h, m, s) =>
      val clock = f"$h%d:$m%02d:$s%02d"
      val rendered = sign + (if (d > 0) s"${d}d" else "") + clock
      val expected = signOf(sign) *
        (d * 86400000000L + h * 3600000000L + m * 60000000L + s * 1000000L)
      (rendered, expected)
    }
    val got = cases.map(_._1).toDF("s")
      .select(TimeFns.timedeltaMicros($"s").as("us")).as[Long].collect()
    got.zip(cases.map(_._2)).zip(cases.map(_._1)).foreach { case ((g, e), r) =>
      assert(g == e, s"'$r': $g != $e")
    }
  }
}
