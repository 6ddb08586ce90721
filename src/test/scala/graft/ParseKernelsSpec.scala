package graft

import graft.functions.{CastOptions, Casts, TimeFns}
import graft.types.GInteger
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The compiled timedelta/complex/integer parse kernels must agree
  * byte-for-byte with the Column cascades they replaced (which the
  * DuckDB oracle SQL is generated from). */
class ParseKernelsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val tdGrid = Seq(
    "1:30:00", "2:15", "1h30m", "2 days 4h", "1.5h", "-0:00:30.5", "90",
    "+90", "-90", "1w2d3:04:05.678", "3w", "2d", "1h", "30m", "45s",
    "500ms", "250us", "1d2h3m4s5ms6us", "-1d12:00", "0:00", "0:00:00",
    "1.5 hours", "2 minutes", "90 seconds", "3 weeks", "1 day",
    "250 microseconds", "500 milliseconds", "2 mins", "4 hrs", "1 wk",
    "", "abc", "1:99:00", "12:34:56.789012", "+1w", "-3w2d",
    "1H30M", " 1h 30m ", "1.25d", "0.5m", "we1rd", "..", "1:2",
    "10:2:3", "-:30", "1e3", "99999999:59:59",
    // a rewrite's output joining a later unit word: only the seven
    // sequential passes read these as units
    "1microsecsecs", "1millisecec", "2hoursec", "3daysecs", "1wksec", "1hrsecond",
    "5microsecondsec", "2 hour sec", "1 minsec", "4 parsecs")

  test("timedelta kernel == Column cascade on the full grid (both as_hours modes)") {
    for (asHours <- Seq(false, true); in <- frames(tdGrid)) {
      val df = in.select(
        TimeFns.timedeltaMicros($"s", asHours).as("k"),
        TimeFns.timedeltaMicrosColumns($"s", asHours).as("c"))
      df.collect().zip(tdGrid).foreach { case (r, s) =>
        assert(r.isNullAt(0) == r.isNullAt(1) &&
          (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
          s"'$s' asHours=$asHours: kernel=${r.get(0)} cascade=${r.get(1)}")
      }
    }
  }

  private val zGrid = Seq(
    "1+2j", "-1.5-2.5j", "3j", "-j", "+j", "j", "2.5", "(1+2j)", "(3j)",
    "(2.5)", "1.5e2+2e-1j", "-0.5j", ".5+.5j", "1.", "+.5", "-1.5e-3",
    "1e3j", "e5j", "nope", "", "1 + 2j", "i", "2i", "(1+2i)", "--1j",
    "1+2", "(1+2j", "3.14")

  test("complex kernel matches the regex cascade's semantics on the grid") {
    // the cascade was removed from the hot path — reconstruct it here
    // from the SAME public pattern strings as the differential oracle
    val v = trim($"s")
    val bothRe = Casts.complexBothRe
    val imRe = Casts.complexImRe
    val reRe = Casts.complexReRe
    val imCoeff = regexp_extract(v, imRe, 1)
    val imVal = when(imCoeff.isin("", "+"), lit(1.0))
      .when(imCoeff === "-", lit(-1.0))
      // try_cast: under ANSI the old cascade THREW on mantissa-less
      // coefficients like "e5j"; the kernel's null is the coerce-mode
      // semantics the cast machinery wants
      .otherwise(imCoeff.try_cast("double"))
    val cascade = when(v.rlike(bothRe), struct(
        regexp_extract(v, bothRe, 1).cast("double").as("re"),
        regexp_extract(v, bothRe, 2).cast("double").as("im")))
      .when(v.rlike(imRe), struct(lit(0.0).as("re"), imVal.as("im")))
      .when(v.rlike(reRe), struct(
        regexp_extract(v, reRe, 1).cast("double").as("re"), lit(0.0).as("im")))
    val df = zGrid.toDF("s").select(
      Casts.toComplex($"s", StringType, CastOptions(errors = "coerce")).as("k"),
      cascade.as("c"))
    df.select($"k.re", $"k.im", $"c.re", $"c.im").collect().zip(zGrid).foreach {
      case (r, s) =>
        assert(r.get(0) == r.get(2) && r.get(1) == r.get(3),
          s"'$s': kernel=(${r.get(0)},${r.get(1)}) cascade=(${r.get(2)},${r.get(3)})")
    }
  }

  test("one-scan unit-word rewrite == the seven sequential replaceAlls (fuzzed)") {
    import graft.expressions.TimedeltaKernel
    val pats = TimeFns.tdReplacements.map { case (p, r) => (java.util.regex.Pattern.compile(p), r) }
    def sequential(s: String): String =
      pats.foldLeft(s) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }
    val parts = Seq("micro", "milli", "sec", "secs", "second", "seconds", "ec", "econd", "ond",
      "s", "min", "minute", "mins", "hour", "hr", "hrs", "day", "days", "week", "wk", "wks",
      "us", "ms", "m", "h", "d", "w", "1", "2.5", ":", "-", "+", "par", "x")
    val r = new scala.util.Random(7)
    for (_ <- 0 until 200000) {
      val s = Seq.fill(1 + r.nextInt(6))(parts(r.nextInt(parts.size))).mkString
      assert(TimedeltaKernel.unitWords(s) == sequential(s), s"'$s'")
    }
  }

  // base-10 tokens: whitespace, signs, terminators, overflow, width
  private val base10Grid = Seq(
    "12", " 12 ", "+12", "-12", "12\n", "12\r\n", "12\r", "12\n\n", "12\u2028", "12\u0085",
    "\t12", "12\t", "1 2", "0012", "-0", "+", "-", "", "+-1", "--1", "12a", "1.5", "1e3",
    "0x1f", "\u0661\u0662", "127", "128", "-128", "-129", "255", "256", "65535", "65536",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "99999999999999999999", null)
  // radix tokens: signs, malformed and valid-prefix tokens, 64-bit edges
  private val radixGrid = Seq(
    "ff", " ff ", "\tff", "ff\t", "-ff", "+ff", "  -ff  ", "--f", "+-f", "-+f", "++f", "-",
    "+", "", "--", "--0", "-0x", "0x", "0", "-0", "000ff", "xyz", "g1", "FF", "fF1z", "12\n",
    "1 2", "\u00e9f", "f\u00e9", "7f", "80", "-80", "-81", "ffff", "10000",
    "7fffffffffffffff", "-7fffffffffffffff", "8000000000000000", "ffffffffffffffff",
    "-ffffffffffffffff", null)

  /** The Column form IntegerParse replaced: rlike + try_cast (base 10)
    * or sign-peel + conv (other bases), then the width check. */
  private def integerCascade(c: Column, base: Int, target: GInteger, errors: String): Column = {
    val v = trim(c)
    val parsed =
      if (base == 10) when(v.rlike("^[+-]?\\d+$"), v.try_cast(LongType))
      else {
        val mag = when(v.rlike("^[+-]"), v.substr(lit(2), length(v))).otherwise(v)
        (conv(mag, base, 10).try_cast(LongType) *
          when(v.startsWith("-"), -1L).otherwise(1L)).cast(LongType)
      }
    val ok = when(parsed >= target.minValue.toLong &&
      parsed <= target.maxValue.min(BigInt(Long.MaxValue)).toLong, parsed)
    (if (errors == "raise") when(ok.isNotNull || c.isNull, ok).otherwise(raise_error(
      concat(lit(s"graft.cast: cannot convert to ${target.spec}: "), c)))
    else ok).cast(target.sparkType)
  }

  /** The tokens as a local relation (the optimizer folds a projection
    * over it through the interpreted `eval`) and as an RDD scan (the
    * projection runs in whole-stage codegen). */
  private def frames(tokens: Seq[String]) =
    Seq(tokens.toDF("s"), spark.sparkContext.parallelize(tokens, 2).toDF("s"))

  /** A one-row result, or the message of the error it raised — the
    * same on both evaluation paths, or both shown. */
  private def outcome(token: String, f: Column => Column): String =
    frames(Seq(token)).map { df =>
      try String.valueOf(df.select(f($"s")).head().get(0))
      catch {
        case e: Exception =>
          val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
          "raised: " + root.getMessage.replaceAll("^\\[\\w+\\] |(?s) SQLSTATE.*", "")
      }
    }.distinct.mkString(" | ")

  test("integer kernel == Column cascade: base 10 and radix, every width and error mode") {
    val widths = Seq(GInteger(64), GInteger(8), GInteger(16, signed = false))
    val cases = Seq(10 -> base10Grid, 16 -> radixGrid, 2 -> radixGrid,
      36 -> radixGrid.filter(t => t == null || t.trim.length < 12))
    for ((base, grid) <- cases; target <- widths; errors <- Seq("coerce", "ignore");
        in <- frames(grid)) {
      val opts = CastOptions(base = base, errors = errors)
      val df = in.select(
        Casts.toInteger($"s", StringType, target, opts).as("k"),
        integerCascade($"s", base, target, errors).as("c"))
      df.collect().zip(grid).foreach { case (r, t) =>
        assert(r.get(0) == r.get(1),
          s"base $base ${target.spec} $errors '$t': kernel=${r.get(0)} cascade=${r.get(1)}")
      }
    }
    for ((base, grid) <- cases.take(2); t <- grid) {
      val target = if (base == 10) GInteger(8) else GInteger(64)
      val k = outcome(t, Casts.toInteger(_, StringType, target, CastOptions(base = base)))
      val c = outcome(t, integerCascade(_, base, target, "raise"))
      assert(k == c, s"base $base raise '$t': kernel=$k cascade=$c")
    }
  }

  test("integer kernel past the cascade: 2^63 negated parses, conv overflow coerces") {
    def parse(t: String, base: Int, errors: String = "coerce") =
      outcome(t, Casts.toInteger(_, StringType, GInteger(64), CastOptions(base = base, errors = errors)))
    // the cascade gave null here: its try_cast saw 2^63 before the sign
    assert(parse("-8000000000000000", 16) == Long.MinValue.toString)
    assert(parse("8000000000000000", 16) == "null")
    // the cascade threw conv()'s ARITHMETIC_OVERFLOW past 2^64 - 1
    for ((t, base) <- Seq("10000000000000000" -> 16, "1ffffffffffffffff" -> 16,
        "7fffffffffffffff" -> 36)) {
      assert(parse(t, base) == "null", s"base $base '$t'")
      assert(parse(t, base, "raise") == s"raised: graft.cast: cannot convert to int64: $t")
    }
  }
}

class UnicodeNormalizeSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("precomposed and decomposed accent forms normalize to the same bytes") {
    import graft.expressions.TextNormKernel.normalize
    val precomposed = "Caf\u00e9 Z\u00fcrich" // single code points
    val decomposed = "Cafe\u0301 Zu\u0308rich" // combining marks
    assert(precomposed != decomposed) // genuinely different byte forms
    assert(normalize(precomposed) == "cafe zurich")
    assert(normalize(decomposed) == "cafe zurich")
    assert(normalize("  AÑO\t nuevo \n") == "ano nuevo") // case+ws collapse
    assert(normalize("plain ascii") == "plain ascii")
  }
}
