package graft.functions

import graft.expressions.{Kernels, TimedeltaKernel}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Time/calendar kernels re-expressing bertrand/util/time (epoch.pyx,
  * unit.pyx, calendar.pyx, timezone.py) as Column expressions. */
object TimeFns {

  /** Microseconds per unit (reference util/time/unit.pyx `as_ns` table,
    * scaled to Spark's native microsecond timestamps). Calendar units
    * (M/Y) are handled separately — they are not fixed-width. */
  def unitMicros(unit: String): Long = unit match {
    case "us" | "microsecond" | "microseconds" => 1L
    case "ms" | "millisecond" | "milliseconds" => 1000L
    case "s" | "sec" | "second" | "seconds" => 1000000L
    case "m" | "min" | "minute" | "minutes" => 60L * 1000000L
    case "h" | "hour" | "hours" => 3600L * 1000000L
    case "D" | "d" | "day" | "days" => 86400L * 1000000L
    case "W" | "w" | "week" | "weeks" => 7L * 86400L * 1000000L
    case other => throw new IllegalArgumentException(s"unknown unit: $other")
  }

  /** Named epoch anchors (reference util/time/epoch.pyx:22
    * `epoch_aliases`). "julian" (-4713-11-24) predates Spark's minimum
    * timestamp year and is deliberately unsupported. */
  val epochAliases: Map[String, String] = Map(
    "gregorian" -> "1582-10-14 00:00:00",
    "ntfs" -> "1601-01-01 00:00:00",
    "modified julian" -> "1858-11-16 00:00:00",
    "reduced julian" -> "1858-11-16 12:00:00",
    "lotus" -> "1899-12-30 00:00:00",
    "ntp" -> "1900-01-01 00:00:00",
    "risc" -> "1900-01-01 00:00:00",
    "labview" -> "1904-01-01 00:00:00",
    "sas" -> "1960-01-01 00:00:00",
    "utc" -> "1970-01-01 00:00:00",
    "unix" -> "1970-01-01 00:00:00",
    "posix" -> "1970-01-01 00:00:00",
    "fat" -> "1980-01-01 00:00:00",
    "zip" -> "1980-01-01 00:00:00",
    "gps" -> "1980-01-06 00:00:00",
    "j2000" -> "2000-01-01 12:00:00",
    "cocoa" -> "2001-01-01 00:00:00")

  /** Resolve an epoch specifier: named alias (case-insensitive) or a
    * literal timestamp string, as in the reference's `Epoch(...)`. */
  def resolveEpoch(since: String): String =
    epochAliases.getOrElse(since.trim.toLowerCase, since)

  /** Months per calendar unit, None for fixed-width units. Calendar
    * units are case-sensitive like the reference's ("M" month vs "m"
    * minute, unit.pyx `valid_units`). */
  def monthsPerUnit(unit: String): Option[Int] = unit match {
    case "M" | "month" | "months" => Some(1)
    case "Y" | "year" | "years" => Some(12)
    case _ => None
  }

  /** Integer calendar-unit count since an epoch → timestamp
    * (reference unit.pyx:231,263 round_months_to_ns/round_years_to_ns):
    * calendar-aware month addition (month-length/leap handling and
    * end-of-month clamping via add_months), preserving the epoch's
    * time of day. */
  def datetimeFromCalendarUnits(n: Column, monthsPer: Int, since: String,
      step: Long = 1): Column = {
    val e = lit(resolveEpoch(since)).cast(TimestampType)
    val eDate = to_date(e)
    val tod = unix_micros(e) - unix_micros(eDate.cast(TimestampType))
    val months = (n.cast("long") * (monthsPer * step)).cast("int")
    timestamp_micros(
      unix_micros(add_months(eDate, months).cast(TimestampType)) + tod)
  }

  /** Floor whole calendar units between an epoch and a timestamp
    * (day-aware months_between semantics). */
  def calendarUnitsSince(ts: Column, monthsPer: Int, since: String): Column =
    floor(months_between(ts.cast(TimestampType),
      lit(resolveEpoch(since)).cast(TimestampType)) / monthsPer).cast("long")

  // ---- timedelta strings (reference util/time/timedelta.pyx:136) ------

  // The kernel's patterns, read by the Column cascade below and by the
  // oracle SQL generator (no lookarounds → valid under Java regex AND
  // the oracle's RE2).
  /** clock family: optional weeks/days prefix + H:MM[:SS[.f]] — a
    * 2-component clock is minutes:seconds (the reference's
    * as_hours=False default). */
  val clockRe: String = TimedeltaKernel.clockReStr
  /** bare count of seconds. */
  val secRe: String = TimedeltaKernel.secReStr
  /** abbreviated units in canonical descending order (the reference's
    * `abbrev` format): [w][d][h][m][s][ms][us]. */
  val abbrevRe: String = TimedeltaKernel.abbrevReStr
  /** longhand→short unit rewrites applied after whitespace collapse
    * (longest names first so "milliseconds" never half-matches). */
  val tdReplacements: Seq[(String, String)] = TimedeltaKernel.replacements

  /** Parse timedelta strings to int64 microseconds: "1:30:00", "2:15",
    * "1h30m", "2 days 4h", "1.5h", "-0:00:30.5", "90". Longhand unit
    * names normalize to the short forms; unparseable input → null
    * (callers apply the error mode). Mirrors reference
    * timedelta.pyx `timedelta_string_to_ns` at microsecond width.
    *
    * One compiled call with per-JVM precompiled patterns
    * ([[graft.expressions.TimedeltaKernel.compute]]) — the Column
    * cascade it replaced inlined ~20 regex machines into generated
    * code; ParseKernelsSpec pins the two formulations equal on the full
    * grid. */
  def timedeltaMicros(c: Column, asHours: Boolean = false): Column =
    Kernels.timedeltaParse(c, asHours)

  /** The original Column-cascade formulation, kept as the differential
    * oracle for the kernel (and the template the DuckDB oracle SQL is
    * generated from). Not in any hot path. */
  def timedeltaMicrosColumns(c: Column, asHours: Boolean = false): Column = {
    import TimedeltaKernel.{wUs, dUs, hUs, mUs, sUs}
    val collapsed = regexp_replace(lower(trim(c)), "\\s+", "")
    val s = tdReplacements.foldLeft(collapsed) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    def sign(re: String): Column =
      when(regexp_extract(s, re, 1) === "-", -1L).otherwise(1L)
    def part(re: String, grp: Int): Column =
      coalesce(nullif(regexp_extract(s, re, grp), lit("")).cast("double"), lit(0.0))
    // per-component micros: explicit floor(x+0.5) (components are
    // non-negative) — engine-identical, unlike native round()
    def us(v: Column, unitUs: Double): Column = floor(v * unitUs + 0.5).cast("long")
    val clockVal = {
      val hasSec = regexp_extract(s, clockRe, 6) =!= ""
      // 2-component clocks are ambiguous: minutes:seconds by default,
      // hours:minutes under as_hours (reference arguments.py:973)
      val (u1, u2) = if (asHours) (hUs, mUs) else (mUs, sUs)
      val hm = when(hasSec,
        us(part(clockRe, 4), hUs) + us(part(clockRe, 5), mUs) +
          us(part(clockRe, 6), sUs))
        .otherwise(us(part(clockRe, 4), u1) + us(part(clockRe, 5), u2))
      sign(clockRe) *
        (us(part(clockRe, 2), wUs) + us(part(clockRe, 3), dUs) + hm)
    }
    val secVal = sign(secRe) * us(part(secRe, 2), sUs)
    val abbrevVal = sign(abbrevRe) *
      (us(part(abbrevRe, 2), wUs) + us(part(abbrevRe, 3), dUs) +
        us(part(abbrevRe, 4), hUs) + us(part(abbrevRe, 5), mUs) +
        us(part(abbrevRe, 6), sUs) + us(part(abbrevRe, 7), 1000.0) +
        us(part(abbrevRe, 8), 1.0))
    when(s.rlike(clockRe), clockVal)
      .when(s.rlike(secRe), secVal)
      .when(s.rlike(abbrevRe) && s.rlike("\\d"), abbrevVal)
      .otherwise(lit(null).cast("long"))
  }

  /** Exact whole-unit difference between two timestamps (floor).
    * Inputs are cast to TIMESTAMP — parquet NTZ columns are accepted
    * (session timezone is UTC everywhere in graft). */
  def diff(a: Column, end: Column, unit: String): Column =
    floor((unix_micros(end.cast("timestamp")) - unix_micros(a.cast("timestamp"))) /
      lit(unitMicros(unit))).cast("long")

  /** date → days since 1970-01-01 (reference util/time/calendar.pyx:55
    * `date_to_days`, proleptic Gregorian). */
  def dateToOrdinal(d: Column): Column =
    datediff(d.cast("date"), lit("1970-01-01").cast("date")).cast("long")

  /** days since 1970-01-01 → date (reference calendar.pyx:233
    * `days_to_date`). */
  def ordinalToDate(n: Column): Column =
    date_add(lit("1970-01-01").cast("date"), n.cast("int"))

  /** Leap-year predicate (reference util/time/calendar.pyx
    * `is_leap_year`): Gregorian rule, pure integer arithmetic. */
  def isLeapYear(y: Column): Column =
    (y % 4 === 0 && y % 100 =!= 0) || (y % 400 === 0)

  /** Days in the month of a date (reference calendar.pyx
    * `days_in_month`). */
  def daysInMonth(d: Column): Column = dayofmonth(last_day(d))

  /** ISO day-of-week with Sunday=0 (engine-neutral convention used by
    * the oracle; Spark's dayofweek is 1-based Sunday). */
  def dowSunday0(d: Column): Column = dayofweek(d) - 1

  /** Interpret a naive timestamp as wall-clock time in `tz` and convert
    * to the absolute UTC instant (reference timezone.py `localize`). */
  def localize(tsCol: Column, tz: String): Column = to_utc_timestamp(tsCol, tz)

  /** Render a UTC instant as wall-clock time in `tz` (reference
    * timezone.py conversion; naive result, like tz_convert + tz-strip). */
  def toWallClock(tsCol: Column, tz: String): Column = from_utc_timestamp(tsCol, tz)

  // ---- business-day calendar (pandas BDay / bdate_range surface) ----------

  /** Monday-based weekday index 0=Mon..6=Sun, from the epoch ordinal —
    * NOT from dayofweek(): engines disagree on week-start conventions
    * (Spark 1=Sun, DuckDB dow 0=Sun, isodow 1=Mon); (ordinal + 3) mod 7
    * is convention-free integer arithmetic (1970-01-01 was a Thursday,
    * Mon-index 3). */
  def weekdayIndex(d: Column): Column =
    pmod(dateToOrdinal(d) + 3, lit(7)) // floor-mod: safe pre-1970 too

  /** `d + n` business days, n ≥ 0: a weekend start acts as the
    * PRECEDING Friday (Sat+1 = Sun+1 = Fri+1 = Monday — the pandas
    * `BDay(n)` convention for n ≥ 1). Boundary pinned here: for n = 0
    * a weekend start therefore resolves to that preceding Friday,
    * diverging from pandas' BDay(0) roll-FORWARD to Monday — callers
    * needing the pandas n=0 roll should add then subtract a day
    * themselves. Closed form — effective
    * start rolled back (Sat −1, Sun −2), then
    * eff + n + 2·((wd_eff + n) div 5) calendar days: each completed
    * business week past Friday costs one weekend. Pure integer
    * arithmetic, no per-day iteration — a 10-year horizon costs the
    * same three ops as tomorrow. */
  def businessDayAdd(d: Column, n: Int): Column = {
    require(n >= 0, s"businessDayAdd: n must be >= 0, got $n")
    val wd = weekdayIndex(d)
    val eff = ordinalToDate(dateToOrdinal(d) -
      when(wd === 5, 1L).when(wd === 6, 2L).otherwise(0L))
    val effWd = when(wd > 4, 4L).otherwise(wd)
    ordinalToDate(dateToOrdinal(eff) + n +
      lit(2L) * floor((effWd + n) / lit(5)).cast("long"))
  }

  /** Business days in [d1, d2) — the closed-form prefix count
    * g(u) = 5·(u div 7) + W[u mod 7] differenced, where W is the
    * weekday prefix table of the epoch week (1970-01-01 = Thursday).
    * Exact for any span, any sign, no iteration. */
  def businessDaysBetween(d1: Column, d2: Column): Column = {
    // wd sequence for u mod 7 = 0..6: Thu Fri Sat Sun Mon Tue Wed →
    // weekday flags 1,1,0,0,1,1,1 → prefix sums:
    val w = array(Seq(0, 1, 2, 2, 2, 3, 4).map(x => lit(x.toLong)): _*)
    def g(d: Column): Column = {
      val u = dateToOrdinal(d)
      // floor-mod: dates before 1970 have negative ordinals
      val q = floor(u / lit(7.0)).cast("long")
      val r = (u - q * 7).cast("int")
      lit(5L) * q + element_at(w, r + 1)
    }
    g(d2) - g(d1)
  }
}
