package graft.functions

import graft.expressions.{ComplexKernel, Kernels}
import graft.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Conversion arguments, mirroring the reference's extension-func
  * keyword set (bertrand/convert/arguments.py): `errors`, `rounding`,
  * `tol`, `unit`, `since`, `step_size`, `tz`, `day_first`,
  * `year_first`, `as_hours`, `ignore_case`, `true`/`false` token sets,
  * `base`, `format`. The reference's `downcast` keyword is
  * [[Downcast.apply]] / [[Downcast.downcastAll]] here. */
final case class CastOptions(
    errors: String = "raise", // raise | coerce | ignore
    rounding: Option[String] = None, // one of Rounding.validRules
    tol: Double = 1e-6, // float→int without rounding: max drift
    unit: String = "s", // epoch unit for int↔datetime/timedelta ("M"/"Y" = calendar)
    since: String = "1970-01-01 00:00:00", // epoch anchor: literal or named alias
    stepSize: Long = 1, // units per increment (reference arguments.py:554)
    tz: Option[String] = None, // wall-clock zone of naive datetime strings (arguments.py:761)
    dayFirst: Boolean = false, // "01/02/03" = 1 Feb (arguments.py:859)
    yearFirst: Boolean = false, // "01/02/03" = 2001-02-03 (arguments.py:921)
    asHours: Boolean = false, // "1:30" = hours:minutes, not minutes:seconds (arguments.py:973)
    ignoreCase: Boolean = true, // boolean token matching (arguments.py:1220)
    trueTokens: Seq[String] = Seq("true", "t", "yes", "y", "on", "1"),
    falseTokens: Seq[String] = Seq("false", "f", "no", "n", "off", "0"),
    base: Int = 10, // string→int radix
    format: Option[String] = None) // datetime parse format

/** The `cast` family (reference bertrand/convert/base.py:152 `cast`,
  * :204-293 `to_*`), as Column→Column kernels.
  *
  * Semantics ported, implementation Spark-first: built-in codegen'd
  * expressions (`when`/`rlike`/`cast`/arithmetic) where one evaluation
  * per row suffices, and graft's native kernels (graft.expressions:
  * IntegerKernel, TimedeltaKernel and ComplexKernel through
  * [[graft.expressions.Kernels]]) where a
  * composition would re-parse the string — so conversions inline into
  * whole-stage codegen, never leave the JVM, and evaluate their input
  * once per row. Error modes:
  *   - "coerce": unconvertible/overflow → null (the reference's NA)
  *   - "ignore": element-wise it behaves like coerce — no target type
  *     here can carry the original value; [[castColumnOrKeep]] is the
  *     reference's column-level ignore
  *   - "raise": unconvertible → runtime error via raise_error
  */
object Casts {

  private val floatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  private def fail(c: Column, target: String): Column =
    raise_error(concat(lit(s"graft.cast: cannot convert to $target: "), c.cast(StringType)))

  /** The one error-mode wrapper. `converted` must be null exactly where
    * `orig` is null or unconvertible; it appears once in the result, so
    * it is evaluated once per row. */
  private def withErrors(orig: Column, converted: Column, target: String,
      opts: CastOptions): Column =
    opts.errors match {
      case "coerce" | "ignore" => converted
      case _ => coalesce(converted, when(orig.isNotNull, fail(orig, target)))
    }

  /** to_boolean (reference convert/base.py:204 + convert/boolean.py).
    * Strings match the configurable true/false token sets; numerics
    * must be exactly 0 or 1 (within tol) unless coercing. */
  def toBoolean(c: Column, dt: DataType, opts: CastOptions = CastOptions()): Column =
    dt match {
      case StringType =>
        val v = if (opts.ignoreCase) lower(trim(c)) else trim(c)
        withErrors(c, when(v.isin(opts.trueTokens: _*), lit(true))
          .when(v.isin(opts.falseTokens: _*), lit(false)), "bool", opts)
      case _: NumericType =>
        val d = c.cast(DoubleType)
        val convertible = abs(d) <= opts.tol || abs(d - 1) <= opts.tol
        withErrors(c, when(convertible, d > 0.5), "bool", opts)
      case BooleanType => c
      case other => throw new IllegalArgumentException(s"to_boolean from $other")
    }

  /** to_integer (reference convert/base.py:214, convert/integer.py).
    * Floats honour `rounding` (else must be within `tol` of integral);
    * strings parse in `base` ([[graft.expressions.Kernels.integerParse]]); overflow
    * outside the target width follows the error mode. */
  def toInteger(c: Column, dt: DataType, target: GInteger = GInteger(64),
      opts: CastOptions = CastOptions()): Column = {
    // range check against the logical width (uintN ranges enforced even
    // though Spark carries them in wider signed types — SURVEY §3),
    // folded into the same pass as the parse
    val (lo, hi) = (target.minValue.toLong, target.maxValue.min(BigInt(Long.MaxValue)).toLong)
    def inRange(v: Column): Column = Kernels.integerInRange(v, lo, hi)
    val converted: Column = dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        inRange(c.cast(LongType))
      case FloatType | DoubleType | _: DecimalType =>
        val d = c.cast(DoubleType)
        val rounded = opts.rounding match {
          case Some(rule) => Rounding.roundFloat(d, rule)
          case None => Rounding.roundFloat(d, "half_even")
        }
        // Spark 4 runs ANSI by default: casting NaN/±Inf or an
        // out-of-long double THROWS, so guard finiteness/range before
        // the cast ever evaluates (when-branches are lazy)
        val finite = !isnan(d) && abs(d) <= lit(Long.MaxValue.toDouble)
        val integral =
          if (opts.rounding.isDefined) finite
          else finite && abs(d - rounded) <= opts.tol
        inRange(when(integral, rounded.cast(LongType)))
      case StringType => Kernels.integerParse(c.cast(StringType), opts.base, lo, hi)
      case TimestampType => inRange(unix_timestamp(c))
      case other => throw new IllegalArgumentException(s"to_integer from $other")
    }
    withErrors(c, converted, target.spec, opts).cast(target.sparkType)
  }

  /** to_float (reference convert/base.py:224). */
  def toFloat(c: Column, dt: DataType, target: GFloat = GFloat(64),
      opts: CastOptions = CastOptions()): Column = dt match {
    case StringType =>
      val v = trim(c)
      withErrors(c, when(v.rlike(floatRe), v.cast(DoubleType)), target.spec, opts)
        .cast(target.sparkType)
    case _ => c.cast(target.sparkType)
  }

  /** to_decimal (reference convert/base.py:244, convert/decimal.py). */
  def toDecimal(c: Column, dt: DataType, target: GDecimal = GDecimal(18, 2),
      opts: CastOptions = CastOptions()): Column = dt match {
    case StringType =>
      val v = trim(c)
      withErrors(c, when(v.rlike(floatRe), v.try_cast(target.sparkType)), target.spec, opts)
    case _ =>
      // try_cast: under ANSI (Spark 4 default) a plain cast throws on
      // out-of-precision values instead of producing null
      withErrors(c, c.try_cast(target.sparkType), target.spec, opts)
  }

  /** to_datetime (reference convert/base.py:254, convert/datetime.py):
    * integers are counts of `unit` since the `since` epoch; strings
    * parse ISO or `format`. Unit arithmetic is integral microseconds —
    * exact, engine-agnostic. */
  /** "ns" unit family: sub-microsecond — truncates toward zero into the
    * micros lane (the reference's rounding="down" residual default). */
  private def isNanos(u: String): Boolean =
    u == "ns" || u == "nanosecond" || u == "nanoseconds"

  private def nanosToMicros(n: Column): Column =
    ((n - n % 1000) / 1000).cast(LongType)

  def toDatetime(c: Column, dt: DataType, opts: CastOptions = CastOptions()): Column = {
    val sinceUs = unix_micros(lit(TimeFns.resolveEpoch(opts.since)).cast(TimestampType))
    val calendar = TimeFns.monthsPerUnit(opts.unit)
    dt match {
      case ByteType | ShortType | IntegerType | LongType if isNanos(opts.unit) =>
        timestamp_micros(sinceUs + nanosToMicros(c.cast(LongType) * opts.stepSize))
      case ByteType | ShortType | IntegerType | LongType => calendar match {
        case Some(mp) =>
          TimeFns.datetimeFromCalendarUnits(c, mp, opts.since, opts.stepSize)
        case None =>
          timestamp_micros(sinceUs +
            c.cast(LongType) * lit(TimeFns.unitMicros(opts.unit) * opts.stepSize))
      }
      case FloatType | DoubleType if isNanos(opts.unit) =>
        timestamp_micros(sinceUs +
          (c.cast(DoubleType) * (0.001 * opts.stepSize)).try_cast(LongType))
      case FloatType | DoubleType => calendar match {
        case Some(mp) =>
          // fractional calendar counts round half_even to whole units
          // first (the reference coerces via round_months_to_ns)
          TimeFns.datetimeFromCalendarUnits(
            Rounding.roundFloat(c.cast(DoubleType), "half_even").try_cast(LongType),
            mp, opts.since, opts.stepSize)
        case None =>
          timestamp_micros(sinceUs +
            (c.cast(DoubleType) * lit((TimeFns.unitMicros(opts.unit) * opts.stepSize).toDouble))
              .try_cast(LongType)) // ANSI-safe on NaN/Inf/overflow
      }
      case StringType =>
        val v = trim(c)
        val naive = opts.format match {
          case Some(f) => try_to_timestamp(v, lit(f))
          case None =>
            // ambiguous slashed dates honour day_first/year_first
            // (reference arguments.py:859,921; dateutil semantics),
            // falling back to ISO parsing
            val ambiguous: Seq[String] =
              if (opts.dayFirst) Seq("d/M/yyyy H:m:s", "d/M/yyyy", "d-M-yyyy")
              else if (opts.yearFirst) Seq("yy/M/d H:m:s", "yy/M/d", "yy-M-d")
              else Seq.empty
            (ambiguous.map(f => try_to_timestamp(v, lit(f))) :+
              try_to_timestamp(v)).reduce(coalesce(_, _))
        }
        // tz: the string is wall-clock time in `tz` → absolute UTC instant
        withErrors(c, opts.tz.fold(naive)(z => to_utc_timestamp(naive, z)), "datetime", opts)
      case TimestampType | DateType => c.cast(TimestampType)
      case other => throw new IllegalArgumentException(s"to_datetime from $other")
    }
  }

  /** to_timedelta (reference convert/base.py:264): carried as int64
    * microseconds (SURVEY §3); integers are counts of `unit`; strings
    * parse the reference's clock/abbrev formats
    * (util/time/timedelta.pyx:136). */
  def toTimedelta(c: Column, dt: DataType, opts: CastOptions = CastOptions()): Column =
    dt match {
      case ByteType | ShortType | IntegerType | LongType if isNanos(opts.unit) =>
        nanosToMicros(c.cast(LongType) * opts.stepSize)
      case ByteType | ShortType | IntegerType | LongType =>
        c.cast(LongType) * lit(TimeFns.unitMicros(opts.unit) * opts.stepSize)
      case FloatType | DoubleType if isNanos(opts.unit) =>
        (c.cast(DoubleType) * (0.001 * opts.stepSize)).try_cast(LongType)
      case FloatType | DoubleType =>
        (c.cast(DoubleType) * lit((TimeFns.unitMicros(opts.unit) * opts.stepSize).toDouble))
          .try_cast(LongType) // ANSI-safe on NaN/Inf/overflow
      case StringType =>
        withErrors(c, TimeFns.timedeltaMicros(c, opts.asHours), "timedelta", opts)
      case other => throw new IllegalArgumentException(s"to_timedelta from $other")
    }

  /** to_complex (reference convert/base.py:234 + convert/complex.py):
    * strings parse "a+bj" / "bj" / "a" numpy-style forms (optional
    * parens, i or j, optional imaginary coefficient as in "-j");
    * numerics become (x, 0). Carried as struct<re,im> per SURVEY §3.
    * Patterns avoid lookarounds so the oracle's RE2 runs them too. */
  // the kernel's complex-literal patterns, read by the oracle SQL generator
  val complexBothRe: String = ComplexKernel.bothReStr
  val complexImRe: String = ComplexKernel.imReStr
  val complexReRe: String = ComplexKernel.reReStr

  def toComplex(c: Column, dt: DataType, opts: CastOptions = CastOptions()): Column =
    dt match {
      case StringType =>
        // one compiled call, per-JVM precompiled patterns
        // (ParseKernelsSpec pins kernel == cascade)
        withErrors(c, Kernels.complexParse(c), "complex", opts)
      case _: NumericType | BooleanType =>
        ComplexOps.complex(c.cast(DoubleType), lit(0.0))
      case _ => c // already struct<re,im>
    }

  /** Column-level errors="ignore" — the reference's actual
    * `errors="ignore"` contract (pandas `to_numeric(errors='ignore')`,
    * bertrand convert/base.py): if ANY value fails to convert, the
    * WHOLE column comes back unchanged; otherwise the cast applies.
    * `castFn` must be a coercing kernel (null = unconvertible); one
    * aggregation over the column decides — a driver-side schema
    * decision, same scale posture as detectTypes (no data collected,
    * one count). */
  def castColumnOrKeep(df: org.apache.spark.sql.DataFrame, name: String,
      castFn: Column => Column): org.apache.spark.sql.DataFrame = {
    val converted = castFn(col(name))
    val bad = df.agg(
        count(when(converted.isNull && col(name).isNotNull, 1)).as("n"))
      .first().getLong(0)
    if (bad == 0L) df.withColumn(name, converted) else df
  }

  /** to_string (reference convert/base.py:274, convert/string.py).
    * Integral inputs honour `base` (reference util/string.pyx:45
    * `int_to_base`): lowercase digits, explicit sign. */
  def toString(c: Column, dt: DataType, opts: CastOptions = CastOptions()): Column =
    dt match {
      case BooleanType => when(c, "true").otherwise(when(!c, "false"))
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case ByteType | ShortType | IntegerType | LongType if opts.base != 10 =>
        Kernels.intToBase(c.cast(LongType), opts.base)
      case _ => c.cast(StringType)
    }
}
