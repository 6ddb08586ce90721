package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.unsafe.types.UTF8String.LongWrapper

/** Timedelta-string → int64 microseconds in one compiled call
  * (reference util/time/timedelta.pyx:136 `timedelta_string_to_ns`,
  * at microsecond width).
  *
  * Same grammar, same Java regex engine, same floor(x·unit + 0.5)
  * per-component arithmetic as the Column cascade it replaces
  * (TimeFns.timedeltaMicrosColumns) — but the ~20 regexp_replace /
  * regexp_extract / rlike machines that cascade inlined into generated
  * code become one unit-word rewrite scan plus THREE
  * statically-precompiled patterns matched at most once each per row.
  * Unparseable input → null; callers apply the error mode. */
object TimedeltaKernel {
  // the pattern strings the oracle SQL is generated from (read through
  // graft.functions.TimeFns), compiled ONCE per JVM
  private val num = "(\\d+(?:\\.\\d+)?)"
  val clockReStr: String =
    s"^([+-])?(?:${num}w)?(?:${num}d)?(\\d+):(\\d{1,2})(?::(\\d{1,2}(?:\\.\\d+)?))?$$"
  val secReStr: String = s"^([+-])?${num}$$"
  val abbrevReStr: String =
    s"^([+-])?(?:${num}w)?(?:${num}d)?(?:${num}h)?(?:${num}m)?" +
      s"(?:${num}s)?(?:${num}ms)?(?:${num}us)?$$"
  val replacements: Seq[(String, String)] = Seq(
    "microseconds?|microsecs?" -> "us",
    "milliseconds?|millisecs?" -> "ms",
    "minutes?|mins?" -> "m",
    "seconds?|secs?" -> "s",
    "hours?|hrs?" -> "h",
    "days?" -> "d",
    "weeks?|wks?" -> "w")

  private val repl = replacements.map { case (p, r) => (Pattern.compile(p), r) }
  // the seven rewrites as one alternation, group i+1 = replacements(i)
  private val unitWordP = Pattern.compile(replacements.map(r => s"(${r._1})").mkString("|"))
  private val unitWordOut = replacements.map(_._2).toArray
  // One scan equals the seven sequential passes unless a rewrite's
  // output joins a later unit word: the "s" of "us"/"ms" starting a new
  // "sec" ("microsec" + "ec"), or the "s" a "sec" leaves completing
  // "hours"/"hrs"/"days"/"weeks"/"wks" ("hour" + "sec"). Strings
  // containing either shape keep the sequential passes.
  private val chainedP = Pattern.compile("(?:hour|hr|day|week|wk)sec|sec(?:s|onds?)?ec")
  private val clockP = Pattern.compile(clockReStr)
  private val secP = Pattern.compile(secReStr)
  private val abbrevP = Pattern.compile(abbrevReStr)

  /** micros per component of the clock/abbrev groups. */
  val wUs = 6.048e11; val dUs = 8.64e10; val hUs = 3.6e9
  val mUs = 6e7; val sUs = 1e6

  @inline private def part(g: String): Double =
    if (g == null || g.isEmpty) 0.0 else java.lang.Double.parseDouble(g)
  // explicit floor(x + 0.5): engine-identical for the non-negative
  // components, unlike native round()
  @inline private def us(v: Double, unitUs: Double): Long =
    math.floor(v * unitUs + 0.5).toLong
  @inline private def sign(g: String): Long = if ("-" == g) -1L else 1L

  /** Java's `\s`: space and \t, \n, vertical tab, \f, \r. */
  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Drops every whitespace character (collapse-to-empty makes the
    * Column version's trim-vs-Java-trim distinction moot). */
  private def stripSpaces(s: String): String =
    if (s.exists(isSpace)) s.filterNot(isSpace) else s

  /** The unit-word rewrites (`replacements`, applied in order) in one
    * scan of `s`. */
  def unitWords(s: String): String = {
    val m = unitWordP.matcher(s)
    if (!m.find()) return s
    if (s.contains("sec") && chainedP.matcher(s).find())
      return repl.foldLeft(s) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while ({
      sb.append(s, last, m.start())
      var g = 1
      while (m.start(g) < 0) g += 1
      sb.append(unitWordOut(g - 1))
      last = m.end()
      m.find()
    }) ()
    sb.append(s, last, s.length).toString
  }

  def compute(raw: UTF8String, asHours: Boolean): java.lang.Long = {
    val s = unitWords(stripSpaces(raw.toLowerCase.toString))
    val cm = clockP.matcher(s)
    if (cm.matches()) {
      val hasSec = cm.group(6) != null && cm.group(6).nonEmpty
      val hm =
        if (hasSec)
          us(part(cm.group(4)), hUs) + us(part(cm.group(5)), mUs) +
            us(part(cm.group(6)), sUs)
        else {
          // 2-component clocks: minutes:seconds by default, hours:minutes
          // under as_hours (reference arguments.py:973)
          val (u1, u2) = if (asHours) (hUs, mUs) else (mUs, sUs)
          us(part(cm.group(4)), u1) + us(part(cm.group(5)), u2)
        }
      return java.lang.Long.valueOf(sign(cm.group(1)) *
        (us(part(cm.group(2)), wUs) + us(part(cm.group(3)), dUs) + hm))
    }
    val sm = secP.matcher(s)
    if (sm.matches())
      return java.lang.Long.valueOf(sign(sm.group(1)) * us(part(sm.group(2)), sUs))
    val am = abbrevP.matcher(s)
    if (am.matches() && s.exists(c => c >= '0' && c <= '9'))
      return java.lang.Long.valueOf(sign(am.group(1)) *
        (us(part(am.group(2)), wUs) + us(part(am.group(3)), dUs) +
          us(part(am.group(4)), hUs) + us(part(am.group(5)), mUs) +
          us(part(am.group(6)), sUs) + us(part(am.group(7)), 1000.0) +
          us(part(am.group(8)), 1.0)))
    null
  }
}

/** Complex-literal string → struct<re double, im double> in one
  * compiled call (reference convert/base.py:234 + convert/complex.py):
  * "a+bj" / "bj" / "a", numpy-style optional parens, i or j, optional
  * imaginary coefficient ("-j" = 0-1j). Same three patterns as the
  * Column cascade it replaces (Casts.toComplex string path), compiled
  * once per JVM instead of ~8 inlined regex runs per row. Unparseable
  * → null struct; callers apply the error mode. */
object ComplexKernel {
  /** struct<re, im>: the result type of [[compute]]. */
  val dataType: StructType = StructType(Seq(
    StructField("re", DoubleType, nullable = true),
    StructField("im", DoubleType, nullable = true)))

  // the pattern strings the oracle SQL is generated from (read through
  // graft.functions.Casts); no lookarounds → the oracle's RE2 runs the
  // same patterns
  private val fnum = "[+-]?(?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][+-]?\\d+)?"
  private val inum = "[+-](?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][+-]?\\d+)?"
  val bothReStr: String = s"^\\(?($fnum)($inum)[ij]\\)?$$"
  val imReStr: String =
    s"^\\(?([+-]?(?:\\d+\\.?\\d*|\\.\\d+)?(?:[eE][+-]?\\d+)?)[ij]\\)?$$"
  val reReStr: String = s"^\\(?($fnum)\\)?$$"

  private val bothP = Pattern.compile(bothReStr)
  private val imP = Pattern.compile(imReStr)
  private val reP = Pattern.compile(reReStr)

  def compute(raw: UTF8String) : InternalRow = {
    val s = raw.trim().toString // SQL trim: 0x20 only
    val bm = bothP.matcher(s)
    if (bm.matches())
      return new GenericInternalRow(Array[Any](
        java.lang.Double.parseDouble(bm.group(1)),
        java.lang.Double.parseDouble(bm.group(2))))
    val im = imP.matcher(s)
    if (im.matches()) {
      val g = im.group(1)
      // mantissa-less coefficients like "e5" cast to null im in the
      // Column formulation (string→double cast fails) — mirror that
      val e = g.indexWhere(c => c == 'e' || c == 'E')
      val mantissa = if (e < 0) g else g.substring(0, e)
      val coeff: Any =
        if (g.isEmpty || g == "+") 1.0
        else if (g == "-") -1.0
        else if (mantissa.exists(c => c >= '0' && c <= '9'))
          java.lang.Double.parseDouble(g)
        else null
      return new GenericInternalRow(Array[Any](0.0, coeff))
    }
    val rm = reP.matcher(s)
    if (rm.matches())
      return new GenericInternalRow(Array[Any](
        java.lang.Double.parseDouble(rm.group(1)), 0.0))
    null
  }
}

/** String → int64 in one pass with the target width's range check
  * folded in (reference convert/integer.py): null when the string does
  * not parse or the value lies outside [lo, hi]
  * ([[Kernels.integerParse]]; [[Kernels.integerInRange]] range-checks
  * an integral column). Callers apply the error mode.
  *
  * Base 10 keeps the semantics of the Column form it replaces
  * (`rlike("^[+-]?\\d+$")` then `try_cast` to BIGINT on the SQL-trimmed
  * string): optional sign, ASCII digits, one trailing line terminator
  * tolerated, overflow → null. Any other base keeps those of the
  * sign-peel + `conv` form: after an optional sign only the longest
  * valid digit prefix counts ("xyz", "g1" and "0x" parse to 0, a lone
  * sign to null), and magnitudes past Long.MaxValue are null, except
  * that "-" + 2^63 is Long.MinValue. */
object IntegerKernel {
  /** `raw` parsed in `base`; null when unparseable or outside [lo, hi]. */
  def parse(raw: UTF8String, base: Int, lo: Long, hi: Long): java.lang.Long = {
    val s = raw.trim() // SQL trim: 0x20 only
    val out = new LongWrapper
    if (if (base == 10) decimal(s, out) else radix(s, base, out)) inRange(out.value, lo, hi)
    else null
  }

  /** `v`, or null outside [lo, hi]. */
  def inRange(v: Long, lo: Long, hi: Long): java.lang.Long =
    if (v >= lo && v <= hi) java.lang.Long.valueOf(v) else null

  // Long.parseLong's accumulation: digits subtract from a non-positive
  // accumulator, so -2^63 is reachable; false past the long range
  private def accumulate(s: UTF8String, from: Int, to: Int, radix: Int,
      out: LongWrapper): Int = {
    val multMin = Long.MinValue / radix
    var acc = 0L
    var i = from
    while (i < to) {
      val d = Character.digit(s.getByte(i).toInt, radix)
      if (d < 0) { out.value = acc; return i }
      if (acc < multMin || acc * radix < Long.MinValue + d) return -1
      acc = acc * radix - d
      i += 1
    }
    out.value = acc
    i
  }

  private def decimal(s: UTF8String, out: LongWrapper): Boolean = {
    var n = s.numBytes()
    // `$` matches before one final line terminator and the cast trims
    // \r and \n (the other terminators are non-digits: no parse)
    if (n >= 2 && s.getByte(n - 2) == '\r' && s.getByte(n - 1) == '\n') n -= 2
    else if (n >= 1 && (s.getByte(n - 1) == '\n' || s.getByte(n - 1) == '\r')) n -= 1
    val neg = n > 0 && s.getByte(0) == '-'
    val from = if (n > 0 && (neg || s.getByte(0) == '+')) 1 else 0
    if (from == n || accumulate(s, from, n, 10, out) != n) return false
    if (neg) true
    else if (out.value == Long.MinValue) false
    else { out.value = -out.value; true }
  }

  private def radix(s: UTF8String, base: Int, out: LongWrapper): Boolean = {
    val n = s.numBytes()
    if (base < Character.MIN_RADIX || base > Character.MAX_RADIX || n == 0) return false
    val neg = s.getByte(0) == '-'
    val from = if (neg || s.getByte(0) == '+') 1 else 0
    if (from == n) return false
    // conv() negates a magnitude that carries its own '-': only zero
    // survives the cast back to BIGINT
    val magNeg = s.getByte(from) == '-'
    if (accumulate(s, if (magNeg) from + 1 else from, n, base, out) < 0) return false
    if (magNeg) out.value == 0L
    else if (neg) true
    else if (out.value == Long.MinValue) false
    else { out.value = -out.value; true }
  }

  /** `v` in `base` (reference util/string.pyx:45 `int_to_base`):
    * lowercase digits and an explicit '-' sign, so Long.MinValue
    * renders as "-8000000000000000" in base 16. Null for a base
    * outside [2, 36]. */
  def toBase(v: Long, base: Int): UTF8String =
    if (base < Character.MIN_RADIX || base > Character.MAX_RADIX) null
    else UTF8String.fromString(java.lang.Long.toString(v, base))
}

