package graft.typesystem

import graft.Tables._
import graft.functions._
import graft.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2 T1–T19: the reference's own type-system surface
  * (detect/resolve/typecheck/cast/round/downcast/missing/categorical/
  * sparse/calendar/complex/mixed), exercised over the shared test
  * tables with DuckDB-oracle parity. */
object TypeQueries {

  // ---- T1: detect_type ----------------------------------------------------
  def t1Detect(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders").select(
      col("o_orderkey").cast(StringType).as("s_int"),
      col("o_totalprice").cast(StringType).as("s_float"),
      when(col("o_orderkey") % 2 === 0, "yes").otherwise("no").as("s_bool"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("s_date"),
      col("o_orderpriority").as("s_str"),
      col("o_orderkey").as("phys_long"),
      col("o_totalprice").as("phys_double"))
    import s.implicits._
    Detect.detectTypes(src).toDF("col_name", "detected").orderBy("col_name")
  }

  // ---- T2: resolve_type mini-language ------------------------------------
  def t2Resolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val specs = Seq("bool", "?", "i8", "uint16", "float32", "half",
      "decimal(10,2)", "datetime[UTC]", "sparse[int, 0]",
      "categorical[string]", "sparse[categorical[int8]]", "str",
      "object", "NA", "complex64", "timedelta",
      "int | float", "bool | sparse[int8]",
      // structured/named unions (reference meta.py:1278): bare pairs,
      // the Union[...] wrapper, per-field unions, comma unions, and
      // flattening of a nested union member
      "foo: int32",
      "foo: int32 | int64, bar: bool",
      "Union[foo: categorical[string], bar: decimal]",
      "int8, uint32",
      "Union[int16, int32 | int64]")
    specs.map(sp => (sp, TypeResolver.resolve(sp).spec,
        TypeResolver.resolve(sp).family))
      .toDF("spec", "canonical", "family").orderBy("spec")
  }

  // ---- T3: typecheck -------------------------------------------------------
  def t3Typecheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val declared = Seq(
      "l_orderkey" -> "int64", "l_linenumber" -> "int32",
      "l_quantity" -> "int64", // fails: data is float64
      "l_returnflag" -> "bool", // fails: strings aren't bool tokens
      "l_shipdate" -> "datetime", "l_linestatus" -> "string")
    Detect.typecheck(t(s, dir, "lineitem"), declared)
      .toDF("col_name", "expected", "actual", "ok").orderBy("col_name")
  }

  // ---- T4: to_integer with rounding / overflow-coerce ---------------------
  def t4CastInt(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      Casts.toInteger(col("l_quantity"), DoubleType, GInteger(8),
        CastOptions(rounding = Some("half_even"), errors = "coerce")).as("qty_i8"),
      Casts.toInteger(col("l_extendedprice"), DoubleType, GInteger(32),
        CastOptions(rounding = Some("floor"), errors = "coerce")).as("price_i32"),
      Casts.toInteger(col("l_extendedprice"), DoubleType, GInteger(8),
        CastOptions(rounding = Some("half_up"), errors = "coerce")).as("price_i8"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- T5: to_boolean with token sets -------------------------------------
  def t5CastBool(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "orders").select(
      when(col("o_orderstatus") === "F", "yes")
        .when(col("o_orderstatus") === "O", " NO ") // trims + case-folds
        .otherwise("maybe").as("raw"))
    val b = Casts.toBoolean(col("raw"), StringType, CastOptions(errors = "coerce"))
    raw.select(b.as("b"))
      .agg(count(when(col("b") === true, 1)).as("n_true"),
        count(when(col("b") === false, 1)).as("n_false"),
        count(when(col("b").isNull, 1)).as("n_null"))
  }

  // ---- T6: string→numeric parse with errors='coerce' ----------------------
  def t6CastStringNum(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "lineitem").select(
      when(col("l_linenumber") % 4 === 0, col("l_extendedprice").cast(StringType))
        .when(col("l_linenumber") % 4 === 1,
          concat(lit("  "), col("l_quantity").cast(StringType), lit(" ")))
        .when(col("l_linenumber") % 4 === 2, lit("N/A"))
        .otherwise(concat(lit("$"), col("l_extendedprice").cast(StringType)))
        .as("raw"))
    val parsed = Casts.toFloat(col("raw"), StringType, GFloat(64),
      CastOptions(errors = "coerce"))
    raw.select(parsed.as("v"))
      .agg(count(col("v")).as("n_parsed"),
        count(when(col("v").isNull, 1)).as("n_failed"),
        dsum(dec(col("v"))).as("total"))
  }

  // ---- T7: int→datetime with unit + since epoch ---------------------------
  def t7CastDatetime(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_id") < 100)
      .select(col("event_id"), unix_timestamp(col("ts")).as("es"))
    e.select(col("event_id"), col("es"),
      unix_micros(Casts.toDatetime(col("es"), LongType,
        CastOptions(unit = "s"))).as("us_epoch"),
      unix_micros(Casts.toDatetime(col("es"), LongType,
        CastOptions(unit = "m", since = "2024-01-01 00:00:00"))).as("us_minutes"))
      .orderBy("event_id")
  }

  // ---- T8: timedelta units ------------------------------------------------
  def t8CastTimedelta(s: SparkSession, dir: String): DataFrame = {
    val anchor = lit("1995-01-01 00:00:00").cast(TimestampType)
    t(s, dir, "orders").filter(col("o_orderkey") <= 300)
      .select(col("o_orderkey"),
        TimeFns.diff(anchor, col("o_orderdate"), "days").as("d_days"),
        TimeFns.diff(anchor, col("o_orderdate"), "weeks").as("d_weeks"),
        TimeFns.diff(anchor, col("o_orderdate"), "hours").as("d_hours"),
        Casts.toTimedelta(TimeFns.diff(anchor, col("o_orderdate"), "days"),
          LongType, CastOptions(unit = "days")).as("td_us"))
      .orderBy("o_orderkey")
  }

  // ---- T9: float→decimal exact --------------------------------------------
  def t9CastDecimal(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
    // Output surfaced as DOUBLE: the cast itself runs in exact decimal
    // arithmetic (the point of T9), but DECIMAL result columns render
    // differently across the driver's pandas/pyarrow bridges (trailing
    // zeros, HUGEINT-style coercion), so hash-compare on the final double.
    o.select(col("o_orderkey"),
      Casts.toDecimal(col("o_totalprice"), DoubleType, GDecimal(18, 2))
        .cast(DoubleType).as("price_dec"),
      (Casts.toDecimal(col("o_totalprice"), DoubleType, GDecimal(18, 2)) * lit(2))
        .cast(DecimalType(20, 2)).cast(DoubleType).as("price_x2"))
      .orderBy("o_orderkey")
  }

  // ---- T10: 9 float rounding rules ----------------------------------------
  def t10RoundRules(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
    val x = (col("l_extendedprice") *
      when(col("l_linenumber") % 2 === 0, -1.0).otherwise(1.0)).as("x")
    val ruleCols = Rounding.validRules.map(r =>
      Rounding.roundFloat(col("x"), r, 1).as(s"r_$r"))
    li.select((Seq(col("l_orderkey"), col("l_linenumber"), x)): _*)
      .select(Seq(col("l_orderkey"), col("l_linenumber"), col("x")) ++ ruleCols: _*)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- T11: integer round_div rules ---------------------------------------
  def t11RoundDiv(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity").cast(LongType) *
          when(col("l_linenumber") % 2 === 0, -1L).otherwise(1L)).as("a"),
        col("l_linenumber").cast(LongType).as("b"))
    val ruleCols = Rounding.validRules.map(r =>
      Rounding.roundDiv(col("a"), col("b"), r).as(s"q_$r"))
    li.select(Seq(col("l_orderkey"), col("l_linenumber"), col("a"), col("b")) ++ ruleCols: _*)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- T12: tolerance snap -------------------------------------------------
  def t12Snap(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_id") < 200)
      .select(col("event_id"), col("value"),
        Rounding.snap(col("value"), 0.3).as("snapped"))
      .orderBy("event_id")

  // ---- T13: downcast plan --------------------------------------------------
  def t13Downcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount")
    Downcast.plan(t(s, dir, "lineitem"), cols)
      .toDF("col_name", "lo", "hi", "target").orderBy("col_name")
  }

  // ---- T14: missing-value semantics ---------------------------------------
  def t14Missing(s: SparkSession, dir: String): DataFrame = {
    val withNa = t(s, dir, "lineitem")
      .select(when(col("l_quantity") > 45, null).otherwise(col("l_quantity")).as("q"))
    withNa.agg(
      count(lit(1)).as("n"),
      count(when(col("q").isNull, 1)).as("n_null"),
      count(col("q")).as("n_valid"),
      dsum(dec(coalesce(col("q"), lit(0.0)))).as("sum_filled"),
      (sum(dec(col("q"))).cast(DoubleType) / count(col("q"))).as("avg_skipna"))
  }

  // ---- T15: categorical dictionary encode ---------------------------------
  // dictionary from Categorical.fit (range-partitioned sort +
  // zipWithIndex — no single-partition window), broadcast onto the
  // aggregated counts
  def t15Categorical(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val counts = li.groupBy(col("l_returnflag").as("value"))
      .agg(count(lit(1)).as("n"))
    val dict = graft.operators.Categorical.fit(li, "l_returnflag")
    counts.join(broadcast(dict), Seq("value"))
      .select("value", "code", "n").orderBy("code")
  }

  // ---- T16: sparse run-length encode (partition-parallel islands) ---------
  def t16Sparse(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"))
    graft.operators.RunLength.encode(e, "event_id", "event_type")
      .select(col("value"), col("start_key").as("start_id"), col("run_len"))
      .orderBy("start_id")
  }

  // ---- T17: calendar math --------------------------------------------------
  def t17TimeUnits(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        TimeFns.dowSunday0(col("o_orderdate")).as("dow"),
        TimeFns.daysInMonth(col("o_orderdate")).as("dim"),
        TimeFns.isLeapYear(year(col("o_orderdate"))).as("leap"),
        TimeFns.dateToOrdinal(col("o_orderdate")).as("ord"),
        // ordinal → date → ordinal roundtrip proves days_to_date
        TimeFns.dateToOrdinal(
          TimeFns.ordinalToDate(TimeFns.dateToOrdinal(col("o_orderdate"))))
          .as("ord_rt"))
      .orderBy("o_orderkey")

  // ---- T18: complex as struct<re,im> --------------------------------------
  def t18Complex(s: SparkSession, dir: String): DataFrame = {
    val z = struct(col("c_acctbal").as("re"),
      col("c_custkey").cast(DoubleType).as("im"))
    t(s, dir, "customer")
      .select(col("c_custkey"), z.as("z"))
      .select(col("c_custkey"),
        (col("z.re") * 2.0 + col("z.im")).as("prod_re"), // z * (2 - i)
        (col("z.im") * 2.0 - col("z.re")).as("prod_im"),
        sqrt(col("z.re") * col("z.re") + col("z.im") * col("z.im")).as("modulus"))
      .orderBy("c_custkey")
  }

  // ---- T19: mixed-type column, split-apply-combine ------------------------
  def t19MixedSac(s: SparkSession, dir: String): DataFrame = {
    val mixed = t(s, dir, "lineitem").select(
      when(col("l_linenumber") % 3 === 0, col("l_extendedprice").cast(StringType))
        .when(col("l_linenumber") % 3 === 1,
          col("l_quantity").cast(IntegerType).cast(StringType))
        .otherwise(when(col("l_returnflag") === "R", "true").otherwise("false"))
        .as("raw"))
    // fused classify+parse: one compiled scan per row instead of four
    // regex-engine evaluations (int/float rlike, token isin, and the
    // coercing cast's own rlike) — same grammar, same oracle
    val cls = graft.expressions.Kernels.classifyNumeric(col("raw"))
    mixed.select(cls.as("c")) // staged: both fields read from one eval
      .select(col("c.subtype").as("subtype"), col("c.v").as("v"))
      .groupBy("subtype")
      .agg(count(lit(1)).as("n"), dsum(dec(col("v"))).as("total"))
      .orderBy("subtype")
  }

  // ---- T20: round_decimal, exact decimal arithmetic -----------------------
  def t20RoundDecimal(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        (dec(col("l_extendedprice")) *
          when(col("l_linenumber") % 2 === 0, -1).otherwise(1)).as("x"))
    val ruleCols = Rounding.validRules.map(r =>
      Rounding.roundDecimal(col("x"), r, 1).cast(DoubleType).as(s"d_$r"))
    li.select(Seq(col("l_orderkey"), col("l_linenumber"),
      col("x").cast(DoubleType).as("x")) ++ ruleCols: _*)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- T21: calendar units (M/Y), step_size, named epochs -----------------
  // reference util/time/unit.pyx:65,231,263 (M/Y in valid_units,
  // round_months/years_to_ns), convert/arguments.py:554 (step_size),
  // epoch.pyx:22 (named anchors)
  def t21UnitCalendar(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        (col("o_orderkey") % 480).cast(IntegerType).as("nm"),
        (col("o_orderkey") % 40).cast(IntegerType).as("ny"))
    val tsM = Casts.toDatetime(col("nm"), IntegerType,
      CastOptions(unit = "M", since = "sas"))
    val tsY = Casts.toDatetime(col("ny"), IntegerType,
      CastOptions(unit = "Y", since = "utc"))
    val tsQ = Casts.toDatetime(col("nm"), IntegerType,
      CastOptions(unit = "M", since = "reduced julian", stepSize = 3))
    val tsL = Casts.toDatetime(col("nm"), IntegerType,
      CastOptions(unit = "M", since = "lotus")) // day 30: exercises EOM clamping
    val tsS5 = Casts.toDatetime(col("nm"), IntegerType,
      CastOptions(unit = "s", since = "gps", stepSize = 5))
    o.select(col("o_orderkey"), col("nm"), col("ny"),
        unix_seconds(tsM).as("ts_m"),
        unix_seconds(tsY).as("ts_y"),
        unix_seconds(tsQ).as("ts_q"),
        unix_seconds(tsL).as("ts_l"),
        unix_seconds(tsS5).as("ts_s5"),
        TimeFns.calendarUnitsSince(tsM, 1, "sas").as("m_rt"),
        TimeFns.calendarUnitsSince(tsY, 12, "utc").as("y_rt"))
      .orderBy("o_orderkey")
  }

  /** Deterministic string fixtures for t22, indexed by key modulo. */
  private[graft] val tdForms = Seq("1:30:00", "2:15", "1h30m", "2 days 4h",
    "1.5h", "90", "-0:00:30.5", "1w", "250ms", "3d1:00:00", "12 minutes",
    "nonsense")
  private[graft] val zForms = Seq("1+2j", "-1.5-2.5j", "3j", "-j", "2.5",
    "(1-1j)", "1e2+0.5j", "+4.25i", "oops")

  // ---- T22: timedelta + complex parsed from strings -----------------------
  // reference util/time/timedelta.pyx:136 (timedelta_regex families),
  // convert/base.py:234 + convert/complex.py (string → complex)
  def t22ParseStrings(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        element_at(array(tdForms.map(lit): _*),
          (col("o_orderkey") % tdForms.size).cast(IntegerType) + 1).as("td_s"),
        element_at(array(zForms.map(lit): _*),
          (col("o_orderkey") % zForms.size).cast(IntegerType) + 1).as("z_s"))
    val z = Casts.toComplex(col("z_s"), StringType, CastOptions(errors = "coerce"))
    o.select(col("o_orderkey"), col("td_s"), col("z_s"),
        Casts.toTimedelta(col("td_s"), StringType,
          CastOptions(errors = "coerce")).as("td_us"),
        z.getField("re").as("z_re"), z.getField("im").as("z_im"))
      .orderBy("o_orderkey")
  }

  // ---- T23: string→datetime parse grid ------------------------------------
  // reference convert/datetime.py (string paths in util/string.pyx),
  // arguments.py:761 (tz), :859 (day_first), :921 (year_first).
  // Fixture strings are FORMATTED from o_orderdate by both engines
  // (date_format vs strftime), then parsed back through every option:
  // default ISO, explicit format, dayFirst, yearFirst, wall-clock tz,
  // and errors=coerce on planted junk. yearFirst uses dates shifted
  // +360 months (2022-2028): Java's "yy" maps to 2000-2099 while
  // DuckDB's %y splits at 69, so the grid stays where both agree.
  def t23ParseDatetime(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 400)
      .select(col("o_orderkey"),
        col("o_orderdate").cast(TimestampType).as("d"),
        add_months(col("o_orderdate"), 360).cast(TimestampType).as("d30"))
    val fix = o.select(col("o_orderkey"),
      date_format(col("d"), "yyyy-MM-dd HH:mm:ss").as("iso_s"),
      date_format(col("d"), "MM/dd/yyyy").as("us_s"),
      date_format(col("d"), "dd/MM/yyyy").as("df_s"),
      date_format(col("d30"), "yy/MM/dd").as("yf_s"),
      when(col("o_orderkey") % 3 === 0, lit("not a date"))
        .otherwise(date_format(col("d"), "yyyy-MM-dd")).as("mixed_s"))
    fix.select(col("o_orderkey"), col("iso_s"),
      unix_micros(Casts.toDatetime(col("iso_s"), StringType)).as("us_iso"),
      unix_micros(Casts.toDatetime(col("us_s"), StringType,
        CastOptions(format = Some("M/d/yyyy")))).as("us_fmt"),
      unix_micros(Casts.toDatetime(col("df_s"), StringType,
        CastOptions(dayFirst = true))).as("us_dayfirst"),
      unix_micros(Casts.toDatetime(col("yf_s"), StringType,
        CastOptions(yearFirst = true))).as("us_yearfirst"),
      unix_micros(Casts.toDatetime(col("iso_s"), StringType,
        CastOptions(tz = Some("America/New_York")))).as("us_tz"),
      unix_micros(Casts.toDatetime(col("mixed_s"), StringType,
        CastOptions(errors = "coerce"))).as("us_coerce"))
      .orderBy("o_orderkey")
  }

  // ---- T24: to_string incl. int→radix, and the radix round-trip -----------
  // reference convert/base.py:274 (to_string), util/string.pyx:45
  // (int_to_base: lowercase digits, explicit sign)
  def t24ToString(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        (col("o_orderkey") *
          when(col("o_orderkey") % 2 === 1, -1).otherwise(1)).as("v"),
        col("o_orderdate").cast(TimestampType).as("d"))
    o.select(col("o_orderkey"), col("v"),
      Casts.toString(col("v"), LongType, CastOptions(base = 16)).as("hex_s"),
      Casts.toString(col("v"), LongType, CastOptions(base = 2)).as("bin_s"),
      Casts.toString(col("v"), LongType, CastOptions(base = 8)).as("oct_s"),
      Casts.toString(col("o_orderkey") % 2 === 0, BooleanType).as("bool_s"),
      Casts.toString(col("d"), TimestampType).as("ts_s"),
      Casts.toInteger(
        Casts.toString(col("v"), LongType, CastOptions(base = 16)),
        StringType, GInteger(64), CastOptions(base = 16)).as("rt"))
      .orderBy("o_orderkey")
  }

  // ---- T25: object dtype — tagged-string store + dispatch round-trip ------
  // reference types/object.py: the object dtype carries heterogeneous
  // values; SURVEY §3 maps it to a string-serialized store with
  // per-value dispatch. Values of four subtypes serialize to
  // "tag:payload" strings, then each row dispatches to its subtype's
  // cast kernel and the decoded value is checked against the original
  // (rt_ok) — a full serialize → detect → dispatch → decode round-trip.
  def t25ObjectRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 300)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_returnflag"),
        col("l_shipdate").cast(TimestampType).as("sd"))
    val tagged = li.withColumn("obj",
      when(col("l_linenumber") % 4 === 0,
        concat(lit("int:"), col("l_orderkey").cast(StringType)))
      .when(col("l_linenumber") % 4 === 1,
        concat(lit("float:"), col("l_extendedprice").cast(StringType)))
      .when(col("l_linenumber") % 4 === 2,
        concat(lit("bool:"),
          when(col("l_returnflag") === "R", "true").otherwise("false")))
      .otherwise(concat(lit("datetime:"),
        date_format(col("sd"), "yyyy-MM-dd HH:mm:ss"))))
    val co = CastOptions(errors = "coerce")
    val split = tagged
      .withColumn("tag", substring_index(col("obj"), ":", 1))
      // payload = everything after the FIRST ':' (datetime payloads
      // contain colons themselves)
      .withColumn("payload", expr("substring(obj, instr(obj, ':') + 1)"))
    split.select(col("l_orderkey"), col("l_linenumber"), col("tag"),
        when(col("tag") === "int",
          Casts.toInteger(col("payload"), StringType, GInteger(64), co)).as("v_int"),
        when(col("tag") === "float",
          Casts.toFloat(col("payload"), StringType, GFloat(64), co)).as("v_float"),
        when(col("tag") === "bool",
          Casts.toBoolean(col("payload"), StringType, co).cast(IntegerType)).as("v_bool"),
        when(col("tag") === "datetime",
          unix_micros(Casts.toDatetime(col("payload"), StringType, co))).as("v_ts_us"),
        when(col("tag") === "int",
            Casts.toInteger(col("payload"), StringType, GInteger(64), co) === col("l_orderkey"))
          .when(col("tag") === "float",
            Casts.toFloat(col("payload"), StringType, GFloat(64), co) === col("l_extendedprice"))
          .when(col("tag") === "bool",
            (Casts.toBoolean(col("payload"), StringType, co).cast(IntegerType) === 1) ===
              (col("l_returnflag") === "R"))
          .otherwise(
            unix_micros(Casts.toDatetime(col("payload"), StringType, co)) ===
              unix_micros(col("sd"))).as("rt_ok"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- T26: sparse fill-aware compute on the compressed form --------------
  // reference types/sparse.py: arithmetic acts on sparse storage
  // without densifying. Encode event codes to RLE, apply v*2+1 to the
  // O(runs) triples, fold all aggregates from (value, run_len) — the
  // oracle computes the same numbers from the DENSE rows, so a match
  // proves compressed-form compute ≡ dense semantics (incl. the
  // gaps-and-islands run count).
  def t26SparseCompute(s: SparkSession, dir: String): DataFrame = {
    val code = when(col("event_type") === "click", 0)
      .when(col("event_type") === "view", 1)
      .when(col("event_type") === "purchase", 2)
      .when(col("event_type") === "signup", 3)
      .otherwise(4).cast(LongType)
    val e = events(s, dir).filter(col("event_id") < 5000)
      .select(col("event_id"), code.as("v"))
    val rle = graft.operators.RunLength.encode(e, "event_id", "v")
    val mapped = graft.operators.RunLength.mapValues(rle, v => v * 2 + 1)
    // fill tracks the same op: sparse[long, 0] * 2 + 1 → fill 1
    graft.operators.RunLength.aggregatesFromRuns(mapped, lit(1L))
  }

  // ---- T27: one-pass column profiling -------------------------------------
  /** describe-style stats for heterogeneous columns in ONE aggregation
    * pass (graft.types.Profile): the data-quality sweep a pipeline
    * runs before choosing casts/filters. */
  def t27Profile(s: SparkSession, dir: String): DataFrame =
    graft.types.Profile.profile(t(s, dir, "documents"),
      Seq("doc_id", "lang", "source", "n_chars"))

  // ---- T28: end-to-end typed ingestion ------------------------------------
  /** GraftReader's whole pipeline on a simulated raw feed: orders
    * rendered as ALL-STRINGS (the phase-1 read), then content-inferred
    * and coercively cast back (phase 2). The oracle is the ORIGINAL
    * typed table — passing proves inference picked int64/float64/
    * datetime/string correctly AND that every cast round-trips
    * losslessly (shortest-roundtrip double render, ISO datetime). */
  def t28IngestInfer(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "orders").select(
      col("o_orderkey").cast(StringType).as("k"),
      col("o_totalprice").cast(StringType).as("price"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("o_orderpriority").as("prio"))
    graft.sources.GraftReader.inferAndCast(raw)
      .orderBy("k")
  }

  // ---- T29: errors="ignore" (whole-column semantics) ----------------------
  /** The reference's `errors="ignore"` is COLUMN-level: any
    * unconvertible value keeps the whole column unchanged. k_good (all
    * parseable) casts to int64; k_bad (odd keys get an 'x' suffix)
    * comes back verbatim as strings. */
  def t29CastIgnore(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "orders").select(
      col("o_orderkey"),
      col("o_orderkey").cast(StringType).as("k_good"),
      concat(col("o_orderkey").cast(StringType),
        when(col("o_orderkey") % 2 === 1, "x").otherwise("")).as("k_bad"))
    val cast = (c: Column) =>
      Casts.toInteger(c, StringType, GInteger(64), CastOptions(errors = "coerce"))
    val step = Casts.castColumnOrKeep(raw, "k_good", cast)
    Casts.castColumnOrKeep(step, "k_bad", cast)
      .orderBy("o_orderkey")
  }

  // ---- T30: linear interpolation of missing values ------------------------
  /** pandas `Series.interpolate(method='index')` re-expressed per
    * group: interior nulls get the linear blend of the nearest non-null
    * neighbors (x = o_orderkey, the index); leading/trailing nulls stay
    * null (strict interpolation — the fill variants are t14's surface).
    * Reference: NA semantics in types/missing.py; positional fill in
    * convert/base.py. Scale posture: two frame-bounded IGNORE NULLS
    * windows per key partition — one shuffle on the group key, no
    * self-joins; the blend itself is pure codegen'd arithmetic. */
  def t30Interpolate(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders").select(
      col("o_custkey").as("g"),
      col("o_orderkey").as("x"),
      when(col("o_orderkey") % 5 < 2, lit(null).cast(DoubleType))
        .otherwise(col("o_totalprice")).as("v"))
    val wPrev = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val xOrNull = when(col("v").isNotNull, col("x"))
    src
      .withColumn("y0", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("x0", last(xOrNull, ignoreNulls = true).over(wPrev))
      .withColumn("y1", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("x1", first(xOrNull, ignoreNulls = true).over(wNext))
      .select(col("g"), col("x"),
        when(col("v").isNotNull, col("v"))
          .when(col("y0").isNull || col("y1").isNull, lit(null).cast(DoubleType))
          .otherwise(col("y0") +
            (col("y1") - col("y0")) * (col("x") - col("x0")) / (col("x1") - col("x0")))
          .as("v_interp"),
        col("v").isNull.as("was_null"))
      .orderBy("g", "x")
  }

  // ---- T31: cut / qcut binning -------------------------------------------
  /** pandas `cut` (8 equal-width bins) and `qcut` (quartiles) over
    * events.value via [[graft.functions.Binning]]; verified through
    * per-bin count + min/max + decimal-exact sum, which any
    * misassigned row would break. Edges ride along as one broadcast
    * stats row; assignment is a map expression. */
  def t31CutQcut(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("value"))
    def agg(binned: DataFrame, kind: String): DataFrame = binned
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"),
        max(col("value")).as("vmax"), dsum(dec(col("value"))).as("total"))
      .select(lit(kind).as("kind"), col("bin"), col("n"), col("vmin"),
        col("vmax"), col("total"))
    agg(graft.functions.Binning.cut(e, "value", 8), "cut")
      .union(agg(graft.functions.Binning.qcut(e, "value", 4), "qcut"))
      .orderBy("kind", "bin")
  }

  // ---- T32: melt / unpivot (wide → long) ----------------------------------
  /** pandas `melt` via Spark's NATIVE `unpivot` (Spark 3.4+): four
    * lineitem measures go long as (variable, value) with the id vars
    * riding along. Values are cast to the common double type first
    * (exactly pandas' coercion). Scale shape: unpivot is a generate —
    * a map-side row-expansion, no shuffle at all; the deterministic
    * id-filter keeps this test's output bounded. */
  def t32Melt(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(DoubleType).as("l_quantity"),
        col("l_extendedprice").cast(DoubleType).as("l_extendedprice"),
        col("l_discount").cast(DoubleType).as("l_discount"),
        col("l_tax").cast(DoubleType).as("l_tax"))
    li.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "variable", "value")
      .orderBy("l_orderkey", "l_linenumber", "variable")
  }

  // ---- T33: rank methods --------------------------------------------------
  /** pandas `Series.rank(method=...)` — all four tie policies plus
    * `pct` in ONE window pass over the same partition key (Spark fuses
    * same-spec windows; the tie-group count is a second spec on the
    * same key, still one shuffle): `min` = RANK, `dense` = DENSE_RANK,
    * `first` = ROW_NUMBER with the id tiebreak, `average` = min +
    * (ties − 1)/2 (the mean of the tie positions, provably), `pct` =
    * average/n (pandas' default). Heavy-tie input (integer p_size
    * within p_mfgr) so every policy actually diverges. */
  def t33RankMethods(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy("p_size")
    val wFirst = Window.partitionBy("p_brand").orderBy("p_size", "p_partkey")
    t(s, dir, "part")
      .withColumn("r_min", rank().over(w))
      .withColumn("r_dense", dense_rank().over(w))
      .withColumn("r_first", row_number().over(wFirst))
      .withColumn("ties",
        count(lit(1)).over(Window.partitionBy("p_brand", "p_size")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_brand")))
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("r_min").cast(LongType).as("r_min"),
        col("r_dense").cast(LongType).as("r_dense"),
        col("r_first").cast(LongType).as("r_first"),
        (col("r_min") + (col("ties") - 1) / 2.0).as("r_avg"),
        round((col("r_min") + (col("ties") - 1) / 2.0) / col("n"), 6)
          .as("r_pct"))
      .orderBy("p_partkey")
  }

  // ---- T34: shift / diff / pct_change / cumulative ------------------------
  /** The pandas time-series accessor quartet per user in event-time
    * order: `shift(1)`, `diff()`, `pct_change()`, `cumsum()`/`cummax()`.
    * One partition-key shuffle serves every column (all windows share
    * the (user) key); sums are decimal-exact, pct_change is pure IEEE
    * double division (identical in both engines), first-row results
    * are null exactly as pandas produces NaN. */
  def t34ShiftDiff(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"), dec(col("value")).as("v"))
      .withColumn("v_prev", lag("value", 1).over(w))
      .select(col("user_id"), col("es"), col("event_id"),
        col("v_prev"),
        (dec(col("value")) - dec(col("v_prev"))).cast(DoubleType).as("diff"),
        // zero base → null on BOTH engines (ANSI Spark would raise on
        // /0; DuckDB would emit inf): the NULLIF-pinned semantics.
        // No ROUND — the raw division is IEEE-identical cross-engine,
        // and 6-dp rounding tie-breaks differently (the t44 lesson)
        when(col("v_prev") === 0.0, lit(null))
          .otherwise(col("value") / col("v_prev") - 1.0).as("pct_change"),
        sum(col("v")).over(wCum).cast(DoubleType).as("cum_sum"),
        max(col("value")).over(wCum).as("cum_max"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T35: string accessor grid -------------------------------------------
  /** The pandas `.str` accessor surface in one pass — case flips,
    * `zfill`/`pad`, slice, `strip(chars)`, `contains`/`startswith`,
    * regex `extract`, `split().get`, `repeat`, `len`, `replace` — all
    * native codegen'd `functions._` (zero UDFs, embarrassingly
    * parallel, pushdown-transparent). Reference: the string-kernel
    * surface of util/string.pyx, cast-adjacent accessors. */
  def t35StrAccessor(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("nm_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        reverse(col("c_name")).as("nm_rev"),
        lpad(col("c_custkey").cast(StringType), 9, "0").as("key_zfill"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_pad"),
        substring(col("c_name"), 1, 4).as("nm_slice"),
        col("c_mktsegment").contains("I").as("seg_has_i"),
        col("c_name").startsWith("Customer").as("nm_is_cust"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("nm_digits"),
        ltrim(regexp_extract(col("c_name"), "([0-9]+)", 1), "0")
          .as("nm_digits_stripped"),
        element_at(split(col("c_name"), "#"), 2).as("nm_after_hash"),
        repeat(substring(col("c_mktsegment"), 1, 2), 3).as("seg_echo"),
        length(col("c_name")).cast(LongType).as("nm_len"),
        regexp_replace(col("c_name"), "^Customer", "Cust").as("nm_short"))
      .orderBy("c_custkey")

  // ---- T36: nested-array / higher-order function grid ---------------------
  /** The list-column surface (pandas object-of-list / Spark ArrayType):
    * per-order quantity vectors built with a sorted collect, then the
    * full higher-order lambda family — `aggregate` (fold), `filter`,
    * `exists`, `transform` — plus positional access and render. All
    * Catalyst lambda expressions: codegen'd, no UDFs, and the
    * nondeterministic collect_list order is neutralized by array_sort
    * BEFORE anything order-sensitive reads it (the determinism
    * discipline for array state). One partition-key shuffle total. */
  def t36ArrayOps(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_list(col("l_quantity").cast(IntegerType)))
        .as("qs"))
    per.select(col("l_orderkey"),
        array_join(col("qs"), ",").as("qs_str"),
        size(col("qs")).as("n_items"),
        aggregate(col("qs"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        size(filter(col("qs"), x => x > 25)).as("n_big"),
        exists(col("qs"), x => x === 50).as("has_50"),
        array_join(transform(col("qs"), x => x * 2), ",").as("doubled"),
        element_at(col("qs"), 1).as("q_min"),
        element_at(col("qs"), -1).as("q_max"))
      .orderBy("l_orderkey")
  }

  // ---- T37: groupby().transform broadcast z-score --------------------------
  /** pandas `groupby().transform` — a group statistic joined back onto
    * every member row WITHOUT a window: the per-group (n, Σv, Σv²)
    * moments aggregate exactly (decimals), broadcast back (group
    * cardinality rows), and the z-score is a pure map expression. At
    * 100 TB this is the only shape that works — a window would sort
    * the fact table; the broadcast join costs one tiny exchange.
    * Every double op ((s, sq) casts → mean/var/sqrt/divide) is the
    * identical IEEE sequence in the oracle, so z matches bit-exact
    * before the display round. */
  def t37GroupTransform(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("event_type"),
      col("value"), dec(col("value")).as("v"))
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s_dec"),
      sum((col("v") * col("v")).cast(DecimalType(34, 4))).as("sq_dec"))
    val withStats = e.join(broadcast(stats), Seq("event_type"))
      .withColumn("s", col("s_dec").cast(DoubleType))
      .withColumn("sq", col("sq_dec").cast(DoubleType))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("variance",
        (col("sq") - col("s") * col("s") / col("n")) / col("n"))
    withStats.select(col("event_id"), col("event_type"),
        col("value"),
        round((col("value") - col("mean")) / sqrt(col("variance")), 6)
          .as("z"),
        (abs((col("value") - col("mean")) / sqrt(col("variance"))) > 2)
          .as("outlier"))
      .orderBy("event_id")
  }

  // ---- T38: drop_duplicates keep grid --------------------------------------
  /** pandas `drop_duplicates(subset, keep=first/last/False)` — all
    * three keep policies over the natural (user, event_type) duplicate
    * groups, "first/last" pinned by (time, id). One partition-key
    * shuffle serves all three (two orderings + one count on the same
    * key); keep=False is the count==1 filter, which no single window
    * rank can express. */
  def t38DropDuplicates(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      unix_timestamp(col("ts")).as("es"), col("event_id"))
    val wf = Window.partitionBy("user_id", "event_type")
      .orderBy(col("es").asc, col("event_id").asc)
    val wl = Window.partitionBy("user_id", "event_type")
      .orderBy(col("es").desc, col("event_id").desc)
    val wc = Window.partitionBy("user_id", "event_type")
    val ranked = e
      .withColumn("rf", row_number().over(wf))
      .withColumn("rl", row_number().over(wl))
      .withColumn("cnt", count(lit(1)).over(wc))
    ranked.filter(col("rf") === 1)
        .select(lit("first").as("policy"), col("user_id"),
          col("event_type"), col("event_id"))
      .union(ranked.filter(col("rl") === 1)
        .select(lit("last").as("policy"), col("user_id"),
          col("event_type"), col("event_id")))
      .union(ranked.filter(col("cnt") === 1)
        .select(lit("unique").as("policy"), col("user_id"),
          col("event_type"), col("event_id")))
      .orderBy("policy", "user_id", "event_type")
  }

  // ---- T42: one-hot encoding ----------------------------------------------
  /** pandas `get_dummies` over a low-cardinality categorical: one 0/1
    * indicator column per level (levels pinned, not discovered — the
    * t15 categorical-code contract), plus `drop_first` shown by
    * omitting the first level from a second projection stage is
    * unnecessary — the indicators are pure map expressions, zero
    * shuffles, and downstream models consume them columnar. */
  def t42GetDummies(s: SparkSession, dir: String): DataFrame = {
    val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val inds = pr.zipWithIndex.map { case (v, i) =>
      when(col("o_orderpriority") === v, 1).otherwise(0).as(s"pr_$i")
    }
    t(s, dir, "orders")
      .select(col("o_orderkey") +: col("o_orderpriority") +: inds: _*)
      .orderBy("o_orderkey")
  }

  // ---- T43: clip / where / mask / between ---------------------------------
  /** The pandas elementwise guard grid — `clip(lower, upper)`,
    * `where(cond, other)`, `mask(cond, other)`, `between(a, b)`,
    * `abs()` — over order totals, all as native codegen'd expressions
    * in ONE map pass (no UDFs, no shuffle). Money math stays decimal
    * until the final double surface. */
  def t43ClipWhere(s: SparkSession, dir: String): DataFrame = {
    val v = col("o_totalprice")
    t(s, dir, "orders")
      .select(col("o_orderkey"), v.as("price"),
        least(greatest(v, lit(50000.0)), lit(200000.0)).as("clipped"),
        when(v >= 100000.0, v).otherwise(lit(-1.0)).as("where_hi"),
        when(v >= 100000.0, lit(-1.0)).otherwise(v).as("mask_hi"),
        v.between(80000.0, 120000.0).as("in_band"),
        abs(v - 150000.0).as("dist_150k"))
      .orderBy("o_orderkey")
  }

  // ---- T41: merge indicator -----------------------------------------------
  /** pandas `merge(how='outer', indicator=True)` — the `_merge`
    * provenance column (`both` / `left_only` / `right_only`) computed
    * from key nullability on a FULL OUTER join (the right side is
    * filtered to every 3rd customer and the left to every 4th order
    * so all three verdicts actually materialize). One key shuffle; the indicator is a pure
    * projection. Sort keys are nulls-first-pinned on both engines so
    * the right_only block (null o_orderkey) orders deterministically
    * by its own key. */
  def t41MergeIndicator(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val c = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"),
        col("c_mktsegment"),
        when(col("o_custkey").isNotNull && col("c_custkey").isNotNull,
            "both")
          .when(col("o_custkey").isNotNull, "left_only")
          .otherwise("right_only").as("merge_ind"))
      .orderBy(asc_nulls_first("o_orderkey"), asc_nulls_first("c_custkey"))
  }

  // ---- T40: timezone localize/convert -------------------------------------
  /** pandas `tz_localize('UTC').tz_convert(zone)` — the tz-aware
    * datetime surface: each event instant rendered as New York and
    * Kolkata wall-clock time plus the realized UTC offset in minutes.
    * Events are spread across 365 synthetic days (event_id-keyed, so
    * deterministic) to cross BOTH US DST transitions — the NY offset
    * column takes −300 and −240 on different rows — and Kolkata pins
    * the half-hour (+330) case. Instant→local is total (no ambiguous/
    * nonexistent local times on this direction), both engines resolve
    * zones from IANA tzdata, and the map pass is pure projection — no
    * shuffle. */
  def t40Timezone(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), unix_timestamp(col("ts")).as("es0"))
      .withColumn("es", col("es0") + (col("event_id") % 365) * 86400L)
      .withColumn("utc", to_timestamp(col("es")))
    def local(zone: String): Column = from_utc_timestamp(col("utc"), zone)
    def offMin(zone: String): Column =
      ((unix_timestamp(local(zone)) - col("es")) / 60).cast("int")
    val fmt = "yyyy-MM-dd HH:mm:ss"
    e.select(col("event_id"), col("es"),
        date_format(col("utc"), fmt).as("utc_str"),
        date_format(local("America/New_York"), fmt).as("ny_str"),
        offMin("America/New_York").as("ny_offset_min"),
        date_format(local("Asia/Kolkata"), fmt).as("kolkata_str"),
        offMin("Asia/Kolkata").as("kolkata_offset_min"))
      .orderBy("event_id")
  }

  // ---- T39: crosstab with margins -----------------------------------------
  /** pandas `pd.crosstab(priority, status, margins=True)` + the
    * `normalize='index'` companion in one result: wide counts per
    * (priority × status), an `All` margin row, a row-total column, and
    * per-cell row shares. ONE groupBy-pivot shuffle builds the wide
    * table (explicit pivot values — no discovery scan); the margin row
    * folds the already-tiny wide frame, costing nothing. Counts are
    * exact longs; shares are one IEEE division washed by round-6. */
  def t39Crosstab(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
    val withTot = wide.select(col("priority"), col("F"), col("O"), col("P"),
      (col("F") + col("O") + col("P")).as("row_total"))
    val margin = withTot.agg(sum("F").as("F"), sum("O").as("O"),
        sum("P").as("P"), sum("row_total").as("row_total"))
      .select(lit("All").as("priority"), col("F"), col("O"), col("P"),
        col("row_total"))
    withTot.union(margin)
      .select(col("priority"), col("F").as("f_cnt"), col("O").as("o_cnt"),
        col("P").as("p_cnt"), col("row_total"),
        round(col("F").cast(DoubleType) / col("row_total"), 6).as("f_share"),
        round(col("O").cast(DoubleType) / col("row_total"), 6).as("o_share"),
        round(col("P").cast(DoubleType) / col("row_total"), 6).as("p_share"))
      .orderBy("priority")
  }

  // ---- T62: pivot_table with values + margins ------------------------------
  /** pandas `pivot_table(index=returnflag, columns=linestatus,
    * values=extendedprice, aggfunc=['sum','mean'], margins=True)` —
    * the VALUES generalization of t39's count crosstab, completing
    * the reshaping family: per cell an exact DECIMAL-cents sum
    * (BIGINT at the boundary — the integer-cents device) and a mean
    * derived by the pinned t48 division sequence (cents → /n → /100),
    * plus BOTH margin axes (the `All` column per row, the `All` row
    * per column, and the grand cell). ONE groupBy-pivot shuffle with
    * EXPLICIT level lists (no discovery scan — the t15/t42 code
    * contract); margins fold the already-tiny wide frame, so the
    * fact table is read once. Empty cells: count 0, sum 0, mean null
    * (pandas NaN). */
  def t62PivotTable(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        (dec(col("l_extendedprice")) * 100).cast(LongType).as("c"))
      .groupBy("rf").pivot("ls", Seq("F", "O"))
      .agg(sum("c").as("sc"), count(lit(1)).as("n"))
      .na.fill(0L, Seq("F_sc", "F_n", "O_sc", "O_n"))
    val withAll = wide.select(col("rf"), col("F_sc"), col("F_n"),
      col("O_sc"), col("O_n"),
      (col("F_sc") + col("O_sc")).as("all_sc"),
      (col("F_n") + col("O_n")).as("all_n"))
    val margin = withAll.agg(sum("F_sc").as("F_sc"), sum("F_n").as("F_n"),
        sum("O_sc").as("O_sc"), sum("O_n").as("O_n"),
        sum("all_sc").as("all_sc"), sum("all_n").as("all_n"))
      .select(lit("All").as("rf"), col("F_sc"), col("F_n"), col("O_sc"),
        col("O_n"), col("all_sc"), col("all_n"))
    def mean(sc: Column, n: Column): Column =
      when(n > 0, sc.cast(DoubleType) / n / lit(100.0))
    withAll.union(margin)
      .select(col("rf"), col("F_sc").as("f_sum_cents"), col("F_n").as("f_n"),
        mean(col("F_sc"), col("F_n")).as("f_mean"),
        col("O_sc").as("o_sum_cents"), col("O_n").as("o_n"),
        mean(col("O_sc"), col("O_n")).as("o_mean"),
        col("all_sc").as("all_sum_cents"), col("all_n").as("all_n"),
        mean(col("all_sc"), col("all_n")).as("all_mean"))
      .orderBy("rf")
  }

  // ---- T44: exponentially weighted mean ------------------------------------
  /** pandas `ewm(alpha=0.3, adjust=False).mean()` per user in
    * event-time order: y₁ = x₁, yₜ = 0.7·yₜ₋₁ + 0.3·xₜ — a sequential
    * left fold the oracle replays with the identical IEEE op sequence
    * (DuckDB `list_reduce`), so every prefix value is bit-exact.
    *
    * Scale shape: ONE partition-key shuffle (`groupByKey`) and a
    * single O(n) streamed pass per key — the recurrence carries one
    * double of state, so a 100k-event key costs 100k multiply-adds,
    * not the O(n²) of per-row prefix re-folds. The fold is inherently
    * sequential per key but keys parallelize freely; were a single
    * key ever to exceed executor memory, the associative (mult, add)
    * pair formulation (Blelloch '90 segmented scan) splits it. */
  def t44Ewm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, Long, Long, Double)]) =>
        // one ordered pass per key: the recurrence yₜ = 0.7·yₜ₋₁ + 0.3·xₜ
        // is O(n) streamed, not O(n²) prefix re-folds; group state is one
        // double, the sort buffer is the group itself (bounded per key)
        val evs = it.toArray.sortBy(e => (e._2, e._3, e._4))
        var acc = 0.0
        var first = true
        evs.iterator.map { e =>
          acc = if (first) { first = false; e._4 } else acc * 0.7 + e._4 * 0.3
          (uid, e._3, e._4, acc)
        }
      }
      .toDF("user_id", "event_id", "value", "ewm")
      .orderBy("user_id", "event_id")
  }

  // ---- T45: rolling mean / std ---------------------------------------------
  /** pandas `rolling(3).mean()` / `rolling(3).std()` (sample, ddof=1,
    * min_periods = window) per user in event-time order. The frame is
    * spelled as explicit lags — value + lag1 + lag2 — so the
    * accumulation ORDER is pinned (a window SUM's internal order is an
    * engine choice); null lags make the first two rows null exactly as
    * pandas yields NaN. Variance via the sums-of-squares identity with
    * a 0-clamp for float negatives; every op IEEE-identical in the
    * oracle. One partition-key shuffle serves both lags. */
  def t45RollingStd(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val sum3 = col("value") + col("l1") + col("l2")
    val ssq = col("value") * col("value") + col("l1") * col("l1") +
      col("l2") * col("l2")
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"))
      .withColumn("l1", lag("value", 1).over(w))
      .withColumn("l2", lag("value", 2).over(w))
      .select(col("user_id"), col("es"), col("event_id"), col("value"),
        (sum3 / lit(3.0)).as("roll_mean"),
        when(col("l1").isNull || col("l2").isNull, lit(null))
          .otherwise(sqrt(greatest(lit(0.0),
            (ssq - sum3 * sum3 / lit(3.0)) / lit(2.0)))).as("roll_std"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T52: rolling median / min / max -----------------------------------
  /** pandas `rolling(3, min_periods=3).median()/.min()/.max()` per user
    * under t45's lag-pinned discipline (one window shuffle serves every
    * column). The 3-element median needs NO sort and NO arithmetic:
    * median(a,b,c) = max(min(a,b), min(max(a,b), c)) — a pure
    * SELECTION network (the sum−max−min identity would NOT be exact:
    * the IEEE sum rounds, and that rounding leaks into the result),
    * so the output is bit-for-bit one of the inputs, like pandas.
    * Warm-up rows are explicit nulls (the t45 guard — Spark's
    * greatest/least SKIP nulls, so the inner expressions never decide
    * the null rows on either engine). */
  def t52RollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val med = greatest(least(col("value"), col("l1")),
      least(greatest(col("value"), col("l1")), col("l2")))
    val mx = greatest(col("value"), col("l1"), col("l2"))
    val mn = least(col("value"), col("l1"), col("l2"))
    val warm = col("l1").isNull || col("l2").isNull
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"))
      .withColumn("l1", lag("value", 1).over(w))
      .withColumn("l2", lag("value", 2).over(w))
      .select(col("user_id"), col("es"), col("event_id"), col("value"),
        when(warm, lit(null)).otherwise(med).as("roll_med"),
        when(warm, lit(null)).otherwise(mn).as("roll_min"),
        when(warm, lit(null)).otherwise(mx).as("roll_max"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T53: resample OHLC bars ---------------------------------------------
  /** pandas `groupby('user_id').resample('1D', on='ts')` OHLC + volume
    * bars (`.agg({'value': 'ohlc'})` + count/sum — the time-series
    * downsample read the t44–t52 rolling family doesn't give): open and
    * close are the values at the exact (us, event_id) MIN / MAX pairs,
    * read back from ONE mergeable min/max-struct aggregation (t51's
    * pinning device — no window ever touches the events, no second
    * pass); high/low are plain min/max; volume is an exact DECIMAL sum
    * (order-free at any partitioning). One groupBy shuffle with map-side
    * partials; per-(user, day) state is two structs + four scalars — the
    * mergeable semigroup shape that folds in streaming (S19 twin; both
    * build their bars through [[graft.operators.SeriesStats.ohlcPartials]]).
    * Bucket surfaced as epoch seconds (q23 convention). */
  def t53ResampleOhlc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SeriesStats.{ohlcBars, ohlcPartials}
    ohlcBars(ohlcPartials(events(s, dir)
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))))
      .orderBy("user_id", "day_s")
  }

  // ---- T54: json_normalize (nested record-path flatten) --------------------
  /** pandas `json_normalize(data, record_path='items', meta=[['user',
    * 'id'], ['user', 'tier']])` — the NESTED semi-structured flatten
    * q34's flat props extract doesn't exercise: each event carries a
    * planted two-level JSON document (user object + items array of
    * objects, every value derived from row columns), parsed by
    * `from_json` with an explicit nested schema (codegen'd — no schema
    * inference scan), then the record path explodes positionally and
    * the meta fields broadcast down onto each item row. The oracle
    * recomputes every field arithmetically from the source columns
    * (the m-family device), so a hash match proves the build → parse →
    * flatten round-trip exact. Map + generate only — zero shuffles
    * (output-proportional explode), pmod/floor pinned on both engines
    * so negative values can't split truncation semantics. */
  def t54JsonNormalize(s: SparkSession, dir: String): DataFrame = {
    val qty1 = pmod(floor(col("value")).cast("long"), lit(5)) + 1
    val qty2 = pmod(col("event_id"), lit(7)) + 1
    val json = concat(
      lit("{\"user\":{\"id\":"), col("user_id"),
      lit(",\"tier\":\"t"), pmod(col("user_id"), lit(3)),
      lit("\"},\"items\":[{\"sku\":"), col("event_id"),
      lit(",\"qty\":"), qty1,
      lit("},{\"sku\":"), col("event_id") + 1,
      lit(",\"qty\":"), qty2, lit("}]}"))
    val schema = StructType(Seq(
      StructField("user", StructType(Seq(
        StructField("id", LongType), StructField("tier", StringType)))),
      StructField("items", ArrayType(StructType(Seq(
        StructField("sku", LongType), StructField("qty", LongType)))))))
    events(s, dir)
      .select(col("event_id"), from_json(json, schema).as("j"))
      .select(col("event_id"), col("j.user.id").as("uid"),
        col("j.user.tier").as("tier"),
        posexplode(col("j.items")).as(Seq("item_pos", "it")))
      .select(col("event_id"), col("uid"), col("tier"),
        col("item_pos").cast(IntegerType).as("item_pos"),
        col("it.sku").as("sku"), col("it.qty").as("qty"))
      .orderBy("event_id", "item_pos")
  }

  // ---- T55: frame compare (cell-level diff) --------------------------------
  /** pandas `df.compare(other)` — the CELL-level diff (which column of
    * which row changed, old vs new) that q43's row-digest CDC labels
    * don't give: both snapshots unpivot to (key, column, value) via
    * Spark's native `unpivot` (a generate — zero extra shuffles), join
    * on (key, column), and only null-safe-differing cells survive.
    * Prices compare as exact integer CENTS rendered to strings (a
    * float→string render differs across engines; integers don't).
    * Plants: price bumps on k%11==1, priority tags on k%13==2 — both
    * fire together every lcm, so multi-cell rows exist. One (k, col)
    * join shuffle, output-proportional. */
  def t55FrameCompare(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      (dec(col("o_totalprice")) * 100).cast(LongType).as("cents"),
      col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
    val old = o.select(col("k"), col("cents").cast(StringType).as("price"),
      col("pri").as("priority"), col("st").as("status"))
    val nw = o.select(col("k"),
      (col("cents") + when(col("k") % 11 === 1, 100L).otherwise(0L))
        .cast(StringType).as("price"),
      when(col("k") % 13 === 2, concat(col("pri"), lit("-X")))
        .otherwise(col("pri")).as("priority"),
      col("st").as("status"))
    def melt(df: DataFrame, vName: String): DataFrame =
      df.unpivot(Array(col("k")),
        Array(col("price"), col("priority"), col("status")), "col", vName)
    melt(old, "self_v").join(melt(nw, "other_v"), Seq("k", "col"))
      .filter(!(col("self_v") <=> col("other_v")))
      .orderBy("k", "col")
  }

  // ---- T57: df.query() predicate mini-language -----------------------------
  /** pandas `df.query("...")` — a PINNED predicate grammar
    * (comparisons incl. Python-reading CHAINS `1 <= x < 5`, in/not-in
    * lists, and/or/not with Python precedence plus pandas' `&`/`|`/`~`
    * spellings at those levels, parens, string/number literals,
    * `@name` environment references resolved at parse time, Python's
    * divisor-sign `%`, floor-division `//` and right-associative `**`
    * power, and full
    * arithmetic on BOTH comparison sides so column-vs-column reads
    * are first-class) compiled to Catalyst Columns by
    * [[graft.types.PredicateParser]], the expression-side sibling of
    * t2's type-spec resolver: the same "user strings become plans"
    * front-end discipline, with malformed input throwing (never a
    * silent misread). All grid predicates evaluate in ONE fused
    * corpus scan (per-predicate conditional counts + exact DECIMAL
    * sums on a single aggregation row, x30's device) — the parser
    * produces ordinary codegen'd expressions, so the language costs
    * nothing at runtime. Oracle = the hand-translated SQL WHEREs,
    * certifying the parser's reading against independent semantics. */
  def t57QueryPredicates(s: SparkSession, dir: String): DataFrame = {
    import graft.types.PredicateParser
    // @refs resolve from this env at parse time (pandas' local-scope
    // binding); the oracle hand-inlines the same constants, so the
    // gate certifies the resolution, not just the grammar
    val env = Map[String, Any]("minqty" -> 45L, "flag" -> "R",
      "flags" -> Seq("A", "N"))
    val preds = Seq(
      "l_quantity > 45",
      "l_returnflag == 'R' and l_quantity <= 10",
      "not (l_linestatus == 'O') or l_discount >= 0.08",
      "l_returnflag in ('A', 'N') and l_tax < 0.03",
      "l_extendedprice / l_quantity > 1500 and l_quantity * 2 < 20",
      "l_tax - l_discount > 0.05 or l_quantity + 5 >= 55",
      // env references: scalar comparisons + an in-list from scope
      "l_quantity >= @minqty and l_returnflag == @flag",
      "l_returnflag in @flags and l_quantity < 8",
      // column-vs-column: full arithmetic on BOTH comparison sides
      "l_discount + l_tax > l_quantity / 400",
      // chained comparison (Python's conjunction reading) and the
      // pandas ~/&/not-in spellings
      "5 <= l_quantity < 10",
      "l_returnflag not in ('A', 'N') & ~(l_linestatus == 'F')",
      // Python modulo (divisor-sign result) on a SIGNED dividend, and
      // the power tower: right-assoc '**' binding over unary minus —
      // the constant conjuncts pin the reading against the oracle
      "(l_quantity - 30) % 7 == 3",
      "(l_quantity - 30) // 7 == -2",
      "l_discount ** 2 > 0.006 and l_quantity < 25",
      "2 ** 3 ** 2 == 512 and -2 ** 2 == -4 and l_returnflag == 'R'",
      // NEGATIVE divisor modulo: Python's % takes the divisor's sign
      // both ways ((a % b) + b) % b — the arm pmod would get wrong
      "(l_quantity - 30) % -7 == -4",
      // scientific-notation float literals (Python: 5e-2 and 1.5E3
      // are floats; the tokenizer's exponent extension)
      "l_discount > 5e-2",
      "l_extendedprice >= 1.5E3 and l_quantity < 3",
      // INTEGRAL // and %: both operands integer-typed, so the
      // parser's PyFloorDiv/PyMod kernels take the exact int64 path.
      // 9007199254740993 = 2^53 + 1 is NOT double-representable —
      // the old floor(a/b)-in-double compilation computes
      // (2^53 + 1 + ln) // 3 one short of Python's exact answer for
      // most ln, so these rows certify the exact path, not just
      // retype the old one
      "(9007199254740993 + l_linenumber) // 3 >= 3002399751580332",
      "(-9007199254740993 - l_linenumber) // 3 == -3002399751580332",
      // negative-divisor integral //: floor, not truncate
      // (l_linenumber-10 in [-9,-3]; Python -8 // -3 = 2)
      "(l_linenumber - 10) // -3 == 2",
      // integral % with both divisor signs (divisor-sign result)
      "l_orderkey % 7 == 3 and l_quantity < 30",
      "(l_linenumber - 10) % -3 == -2")
    val li = t(s, dir, "lineitem")
    val aggs = preds.zipWithIndex.flatMap { case (p, i) =>
      val c = PredicateParser.parse(p, env)
      Seq(sum(when(c, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(c, dec(col("l_quantity")))).as(s"q$i"))
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(preds.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("predicate"), col(s"n$i").as("n_rows"),
          coalesce(col(s"q$i").cast("double"), lit(0.0)).as("qty_total"))
      }: _*)).as("e"))
      .select(col("e.predicate"), col("e.n_rows"), col("e.qty_total"))
      .orderBy("predicate")
  }

  // ---- T70: df.eval multi-statement program --------------------------------
  /** pandas MULTI-LINE `df.eval` as a gated query: a four-statement
    * program whose later statements reference earlier targets (the
    * sequential-withColumn fold of `evalAssign`), exercising the
    * round-11 grammar extensions end-to-end — Python's divisor-sign
    * `%` and the `**` power — against an independent SQL replay.
    * Engine-stability by construction: `bucket` is an integral double
    * (pmod of whole-number quantities), `boost` = 2**bucket is an
    * exact power of two, so `score` = margin × boost is an EXACT
    * binary scaling of the per-row IEEE product — every aggregate is
    * a count, a threshold count (same doubles compared both engines),
    * or an exact decimal sum; no double ever crosses an ordering- or
    * rounding-sensitive path. The program compiles to ordinary
    * codegen'd projections — one corpus scan, one groupBy on a
    * 7-value key. */
  def t70EvalProgram(s: SparkSession, dir: String): DataFrame = {
    import graft.syntax._
    val prog =
      """bucket = l_quantity % 7
        |boost = 2 ** bucket
        |margin = l_extendedprice * (1 - l_discount)
        |score = margin * boost""".stripMargin
    t(s, dir, "lineitem").evalAssign(prog)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("score") > 200000, 1L).otherwise(0L)).as("n_hi"),
        dsum(dec(col("l_quantity"))).as("sum_qty"))
      .orderBy("bucket")
  }

  // ---- T46: nested decorators — sparse[categorical[string]] ---------------
  /** Decorator COMPOSITION at the data level (reference types/sparse.py
    * wrapping types/categorical.py — `sparse[categorical[T]]`, the
    * recursive decorator stack of meta.py): dictionary-encode
    * event_type (categorical layer: Categorical.fit range-partitioned
    * dictionary, broadcast transform), then run-length-compress the
    * code stream in event_id order (sparse layer: RunLength block-local
    * islands), then peel BOTH layers back off (RLE decode → dictionary
    * inverse) and prove the round-trip restores every row (n_bad = 0
    * per value). Output: per (value, code) the dense row count, the
    * compressed run count, and the round-trip mismatch count.
    *
    * Scale shape: dictionary is distinct-cardinality (broadcast both
    * directions); RLE islands are block-local windows (≤ blockSize rows
    * per task); the verify join is key-equi on the dense keys. */
  def t46SparseCategorical(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Categorical, RunLength}
    val e = events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"))
    val dict = Categorical.fit(e, "event_type")
    val coded = Categorical.transform(e, "event_type", dict)
    val rle = RunLength.encode(coded, "event_id", "event_type")
    // peel the decorators back off: RLE → codes → dictionary values
    val recovered = Categorical.inverse(
      RunLength.decode(rle).withColumnRenamed("value", "ct"), "ct", dict)
    val stats = rle.select(col("value").as("code"),
        col("start_key"), col("run_len"))
      .join(broadcast(dict), Seq("code"))
      .groupBy("value", "code")
      .agg(sum(col("run_len")).as("n_rows"), count(lit(1)).as("n_runs"))
    val rt = e.as("o")
      .join(recovered.as("r"), col("o.event_id") === col("r.k"), "left")
      .groupBy(col("o.event_type").as("value"))
      .agg(sum(when(col("o.event_type") <=> col("r.ct"), 0L)
        .otherwise(1L)).as("n_bad"))
    stats.join(rt, Seq("value"))
      .select("value", "code", "n_rows", "n_runs", "n_bad")
      .orderBy("code")
  }

  // ---- T47: structured-union schema contract ------------------------------
  /** Whole-DataFrame validation against a STRUCTURED (named) union —
    * the reference's schema-contract use of structured unions
    * (meta.py:1278: `df isinstance Union['foo': int, 'bar': bool]`).
    * The grid exercises every status: a per-field union admitting the
    * column, an exact match, a content-level mismatch (float64 data
    * under an int64 contract), a contract field missing from the
    * DataFrame, and a DataFrame column outside the contract (extra —
    * ok, structural subtyping). Detection is ONE aggregation pass
    * (detectTypes); the contract evaluation is driver-side over the
    * per-column summary, the t1/t3 convention. */
  def t47UnionTypecheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    Detect.typecheckStruct(df,
        "l_orderkey: int32 | int64, l_quantity: int64, " +
          "l_returnflag: string, l_comment: string")
      .toDF("col_name", "declared", "actual", "status", "ok")
      .orderBy("col_name")
  }

  // ---- T49: rolling correlation / covariance -------------------------------
  /** pandas `rolling(3, min_periods=3).cov(other)` / `.corr(other)`
    * (ddof=1) per user in event-time order, between `value` and a
    * second per-event series (`length(props)` — the natural companion
    * metric on events). The t45 discipline: the 3-row frame is spelled
    * as explicit lags so every accumulation is a PINNED left-to-right
    * IEEE sequence (window-SUM internal order is an engine choice);
    * warm-up rows (any null lag) are null exactly like pandas NaN, and
    * a zero-variance window yields null corr (pandas NaN). Zero
    * variance is detected as the EXACT all-equal window (the only way
    * variance can vanish), not via a float threshold: a float clamp
    * under the sqrt would turn an ulp-negative variance into a 0
    * divisor — ANSI division-by-zero on Spark, inf on DuckDB (the t34
    * crash class); any non-constant window's variance is ≥ ~1e-4
    * (values are 2-dp, lengths integral), far above ulp noise. One
    * partition-key shuffle serves all six lag columns. */
  def t49RollingCorr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val sx = col("x") + col("x1") + col("x2")
    val sy = col("y") + col("y1") + col("y2")
    val sxy = col("x") * col("y") + col("x1") * col("y1") +
      col("x2") * col("y2")
    val sxx = col("x") * col("x") + col("x1") * col("x1") +
      col("x2") * col("x2")
    val syy = col("y") * col("y") + col("y1") * col("y1") +
      col("y2") * col("y2")
    val cov = (sxy - sx * sy / lit(3.0)) / lit(2.0)
    val varx = sxx - sx * sx / lit(3.0)
    val vary = syy - sy * sy / lit(3.0)
    val xConst = col("x") === col("x1") && col("x1") === col("x2")
    val yConst = col("y") === col("y1") && col("y1") === col("y2")
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value").as("x"),
        length(col("props")).cast(DoubleType).as("y"))
      .withColumn("x1", lag("x", 1).over(w))
      .withColumn("x2", lag("x", 2).over(w))
      .withColumn("y1", lag("y", 1).over(w))
      .withColumn("y2", lag("y", 2).over(w))
      .select(col("user_id"), col("es"), col("event_id"),
        when(col("x2").isNull, lit(null)).otherwise(cov).as("roll_cov"),
        when(col("x2").isNull || xConst || yConst, lit(null))
          .otherwise((sxy - sx * sy / lit(3.0)) / sqrt(varx * vary))
          .as("roll_corr"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T48: expanding-window accessor --------------------------------------
  /** pandas `expanding()` accessor per user in event-time order —
    * expanding count / sum / mean / max / std(ddof=1), the
    * unbounded-preceding sibling of t45's bounded rolling frame.
    *
    * Exactness without order-pinning: a running window SUM of doubles
    * depends on accumulation order (engine internals), so the moments
    * accumulate over exact integer CENTS (`value` is DECIMAL(12,2)
    * representable): Σx and Σx² are exact longs at any partitioning,
    * and mean/std derive by a pinned sequence of double divisions —
    * bit-identical cross-engine with NO rounding washes (the t44
    * lesson). The n·Σx² − (Σx)² numerator is computed in DECIMAL(38,0)
    * (its factors exceed int64 past ~10⁹ rows/key); it is ≥ 0 exactly
    * (integer Cauchy-Schwarz), so no clamp is needed — vs t45's float
    * clamp. std is null below 2 observations exactly as pandas NaN
    * (ddof=1). Scale shape: ONE partition-key shuffle; a single
    * Exchange+Sort serves every column. */
  def t48Expanding(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d19 = DecimalType(19, 0)
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"),
        (dec(col("value")) * lit(100)).cast(LongType).as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sc", sum(col("cents")).over(w))
      .withColumn("scc", sum(col("cents") * col("cents")).over(w))
      .withColumn("exp_max", max(col("value")).over(w))
      .select(col("user_id"), col("es"), col("event_id"), col("n"),
        (col("sc").cast(DoubleType) / col("n") / lit(100.0)).as("exp_mean"),
        (col("sc").cast(DoubleType) / lit(100.0)).as("exp_sum"),
        col("exp_max"),
        when(col("n") < 2, lit(null)).otherwise(sqrt(
          (col("n").cast(d19) * col("scc").cast(d19) -
            col("sc").cast(d19) * col("sc").cast(d19)).cast(DoubleType)
            / (col("n") * (col("n") - 1)).cast(DoubleType)
            / lit(10000.0))).as("exp_std"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T61: expanding skew/kurt --------------------------------------------
  /** pandas `expanding().skew()/.kurt()` per key — the 3rd/4th-moment
    * completion of t48's expanding count/sum/mean/max/std, same
    * discipline: the raw power sums Σc..Σc⁴ over exact integer CENTS
    * ([[graft.operators.Moments.powerSums]], shared with S33) run over
    * an expanding window, and G1/G2 derive through the exact
    * DECIMAL(38,0) kernels and pinned IEEE terminals of
    * [[graft.operators.Moments]] (exact while n·c⁴ holds under 38
    * digits — ~1e27 here; the 100 TB swap is float central-moment
    * accumulation, which is what pandas itself does). skew is null
    * below 3 obs, kurt below 4, both at the exact M2 = 0, matching
    * pandas NaN on constant prefixes. ONE partition-key Exchange+Sort
    * serves every column. */
  def t61ExpandingSkewKurt(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Moments
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), Moments.cents(col("value")).as("c"))
    val base = cents.select(cents.columns.toSeq.map(col) ++
      Moments.powerSums(col("c"), _.over(w)): _*)
    val (m2i, m3i, m4i) = Moments.kernels(
      col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
    base
      .withColumn("m2i", m2i).withColumn("m3i", m3i).withColumn("m4i", m4i)
      .select(col("user_id"), col("es"), col("event_id"), col("n"),
        Moments.g1(col("n"), col("m2i"), col("m3i")).as("exp_skew"),
        Moments.g2(col("n"), col("m2i"), col("m4i")).as("exp_kurt"))
      .orderBy("user_id", "es", "event_id")
  }

  // ---- T50: robust outliers (median/MAD modified z-score) ----------------
  /** Robust per-group outlier detection — the Iglewicz–Hoaglin modified
    * z-score (0.6745·(x−med)/MAD, flag |z| > 3.5) a curation pipeline
    * reaches for where t37's mean/std z would be dragged by the very
    * outliers it hunts. Two exact interpolating-percentile aggregations
    * (the q32/q50 contract; the t-digest sketch is the documented
    * 100 TB swap): group medians come back as a BROADCAST join for the
    * deviation pass, then MAD medians broadcast for the final map-only
    * scoring — the events table shuffles only into the two group-key
    * aggregations, never sorts globally. z stays an unrounded IEEE
    * chain (Spark `percentile` and DuckDB `quantile_cont` interpolate
    * identically — the t37 discipline); only aggregated outputs round.
    * A degenerate constant group (MAD = 0) yields null z and no flag
    * via NULLIF on both engines. */
  def t50MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"), col("value"))
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("z",
        lit(0.6745) * (col("value") - col("med")) / expr("nullif(mad, 0.0d)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 6).as("med_value"),
        round(max(col("mad")), 6).as("mad_value"),
        count(when(abs(col("z")) > 3.5, 1)).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
      .orderBy("event_type")
  }

  // ---- T51: factorize + value_counts -------------------------------------
  /** pandas `factorize` + `value_counts(normalize=True)` in one pass:
    * codes are assigned in FIRST-OCCURRENCE order over the
    * (ts, event_id) event order — the appearance-order dictionary
    * (vs t15's rank dictionary), pinned by the exact (first_us,
    * first_event_id) pair from ONE mergeable min-struct aggregation
    * (no window over the events). The ranking/total windows have no
    * `partitionBy` and run in one task over the VALUE-cardinality
    * table only — bounded by the dictionary size, never the corpus, so
    * the unpartitioned window is safe at any data scale. share = one IEEE division, identical on both
    * engines. */
  def t51Factorize(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val agg = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      min(struct("us", "event_id")).as("first"))
    val w = Window.orderBy(col("first.us"), col("first.event_id"))
    agg.withColumn("code", row_number().over(w) - 1)
      .withColumn("share",
        col("n").cast(DoubleType) / sum(col("n")).over().cast(DoubleType))
      .select(col("event_type"), col("code"), col("n"), col("share"),
        col("first.us").as("first_us"))
      .orderBy("code")
  }

  // ---- T58: business-day calendar arithmetic -------------------------------
  /** pandas `BDay` / `bdate_range` surface (reference
    * `types/datetime.py` calendar offsets): shift every order date by
    * +1/+5/+20 business days and count business days in the next 30
    * calendar days — settlement/SLA math. Both directions are CLOSED
    * FORMS ([[graft.functions.TimeFns.businessDayAdd]] /
    * `businessDaysBetween`): no per-day iteration, a 10-year shift
    * costs the same three integer ops as tomorrow; the weekday index
    * is derived from the epoch ordinal, NOT `dayofweek()` — engines
    * disagree on week-start conventions, (ordinal+3) mod 7 is
    * convention-free. Weekend starts act as the preceding Friday
    * (Sat+1 = Mon, the pandas convention), pinned by the spec's
    * hand-computed calendar grid. One map pass, no shuffle. */
  def t58BusinessDays(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TimeFns
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
      TimeFns.weekdayIndex(col("o_orderdate")).as("wd"),
      TimeFns.businessDayAdd(col("o_orderdate"), 1).as("bday1"),
      TimeFns.businessDayAdd(col("o_orderdate"), 5).as("bday5"),
      TimeFns.businessDayAdd(col("o_orderdate"), 20).as("bday20"),
      TimeFns.businessDaysBetween(col("o_orderdate"),
        date_add(col("o_orderdate"), 30)).as("bdays_30d"))
      .orderBy("o_orderkey")
  }

  // ---- T56: Kleene three-valued boolean logic ------------------------------
  /** pandas masked-boolean (`BooleanDtype`) Kleene logic — the
    * reference's nullable-bool backend (`types/boolean.py` PandasBool,
    * na_value = pd.NA): AND/OR follow the Kleene table (False ∧ NA =
    * False, True ∨ NA = True, the rest propagate NA), XOR always
    * propagates NA, and the reductions come in both flavors —
    * `any/all(skipna=True)` drop NAs (all-NA ⇒ any=False, all=True),
    * `skipna=False` yield NA whenever a hidden NA could flip the
    * verdict. Spark's SQL ternary logic IS the Kleene table, so the
    * whole grid is one fused scan + mergeable groupBy; the hash match
    * certifies Spark's and DuckDB's three-valued engines agree cell by
    * cell, and the spec pins all 9 cells of each operator against the
    * pandas-documented table.
    *
    * Scale shape: one scan, one groupBy(flag) of conditional counts;
    * strict any/all decide from (bool_or/bool_and, null-count) pairs
    * inside the same aggregation — no second pass, no shuffle beyond
    * the flag key. */
  def t56KleeneBool(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = when(col("l_linenumber") % 3 === 0, lit(null).cast("boolean"))
      .otherwise(col("l_quantity") > 30)
    val b = when(col("l_partkey") % 5 === 0, lit(null).cast("boolean"))
      .otherwise(col("l_discount") > 0.05)
    val g = li.select(col("l_returnflag").as("flag"), a.as("a"), b.as("b"))
      .select(col("flag"), col("a"), col("b"),
        (col("a") && col("b")).as("andv"),
        (col("a") || col("b")).as("orv"),
        (col("a") =!= col("b")).as("xorv"))
    def t3(c: Column, name: String): Seq[Column] = Seq(
      count(when(c, 1)).as(s"${name}_t"),
      count(when(!c, 1)).as(s"${name}_f"),
      count(when(c.isNull, 1)).as(s"${name}_n"))
    val aNull = count(when(col("a").isNull, 1))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n"), aNull.as("a_null"),
      count(when(col("b").isNull, 1)).as("b_null")) ++
      t3(col("andv"), "and") ++ t3(col("orv"), "or") ++
      t3(col("xorv"), "xor") ++ Seq(
        coalesce(bool_or(col("a")), lit(false)).as("any_skipna"),
        coalesce(bool_and(col("a")), lit(true)).as("all_skipna"),
        when(coalesce(bool_or(col("a")), lit(false)), "true")
          .when(aNull > 0, "NA").otherwise("false").as("any_strict"),
        when(!coalesce(bool_and(col("a")), lit(true)), "false")
          .when(aNull > 0, "NA").otherwise("true").as("all_strict"))
    g.groupBy("flag").agg(aggs.head, aggs.tail: _*).orderBy("flag")
  }

  // ---- T59: user-registered cast kernel end-to-end --------------------------
  /** The reference's arbitrary-callable conversion hook — `cast(...,
    * call=fn)` (convert/arguments.py:1424) and the `@register` custom
    * type tutorial (types/base docs) — exercised END TO END through the
    * public path: [[TypeRegistry.register]] installs a user type
    * (`t59_money`: dollars → integer cents) with a deliberately coarse
    * first kernel (whole-dollar cents), [[TypeRegistry.overrideCast]]
    * replaces it with the exact-cents kernel (most-recent registration
    * wins — dispatch.py:2453 precedence), and a second registered spec
    * (`t59_clamp50`) carries pure call-semantics a plain type cast
    * can't express. Both columns flow through `Column.castTo`, which
    * consults the registry BEFORE the builtin kernels; a builtin cast
    * rides alongside to show the two paths compose in one projection.
    *
    * Kernels are Column→Column — they inline into the SAME
    * whole-stage-codegen projection as the builtins (registration is a
    * plan-build-time lookup, zero runtime dispatch), so the user hook
    * costs nothing at 100 TB. Registration is idempotent per-JVM;
    * specs are t59-prefixed so the global registry can't collide with
    * other queries. */
  def t59CustomCast(s: SparkSession, dir: String): DataFrame = {
    import graft.syntax._
    // @register: user money type, first with the coarse kernel ...
    TypeRegistry.register(GCustom("t59_money", LongType, "integer"),
      Seq("t59_money"),
      Some(c => (c.cast(DecimalType(12, 0)) * 100).cast(LongType)))
    // ... then cast(call=fn): the exact-cents kernel overrides it
    // (most-recent wins; OverrideCastSpec pins the precedence order).
    TypeRegistry.overrideCast("t59_money",
      c => (c.cast(DecimalType(12, 2)) * 100).cast(LongType))
    // a pure-callable spec: clamp to [0, 50] — not a physical cast
    TypeRegistry.register(GCustom("t59_clamp50", LongType, "integer"),
      Seq("t59_clamp50"),
      Some(c => least(greatest(c, lit(0L)), lit(50L)).cast(LongType)))
    t(s, dir, "orders").select(col("o_orderkey"),
      col("o_totalprice").castTo("t59_money").as("cents"),
      (col("o_orderkey") % 80).castTo("t59_clamp50").as("clamp50"),
      col("o_totalprice").castTo("int32",
        CastOptions(rounding = Some("half_even")),
        from = DoubleType).as("dollars_i32"))
      .orderBy("o_orderkey")
  }

  // ---- T60: combine_first (cell-wise patch overlay) -------------------------
  /** pandas `a.combine_first(b)` ([[graft.operators.Merge.combineFirst]]):
    * frame `a` (every 3rd order, with holes punched per column on
    * independent key grids) patched by frame `b` (every 2nd order,
    * values MARKED — custkey +10⁶, price ×2, 'B-' prefix — so the
    * provenance of every filled cell is visible in the result), plus a
    * b-only `status` column that must pass through (column-union
    * semantics). Exercises all four cell regimes: a-wins (both
    * non-null), b-fills (a null), a-only key, b-only key. One
    * full-outer equi-join, every column rides the single exchange. */
  def t60CombineFirst(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey").as("k"),
      when(col("o_orderkey") % 5 =!= 0, col("o_custkey")).as("custkey"),
      when(col("o_orderkey") % 7 =!= 0, col("o_totalprice")).as("totalprice"),
      when(col("o_orderkey") % 2 =!= 0, col("o_orderpriority")).as("priority"))
    val b = o.filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("k"),
      (col("o_custkey") + 1000000L).as("custkey"),
      (col("o_totalprice") * 2.0).as("totalprice"),
      concat(lit("B-"), col("o_orderpriority")).as("priority"),
      col("o_orderstatus").as("status"))
    graft.operators.Merge.combineFirst(a, b, Seq("k")).orderBy("k")
  }

  // ---- T63: pandas groupby.idxmax / idxmin --------------------------------
  /** pandas `df.groupby('o_custkey')['o_totalprice'].idxmax()` and
    * `['o_orderdate'].idxmin()` — the index LABEL of the extreme row
    * per group, ties resolved to the FIRST occurrence in frame order
    * (pandas semantics; frame order here = `o_orderkey` order, so a
    * tie resolves to the smallest key — pinned, engine-independent).
    * Reference surface: the accessor pairs the type system promises to
    * keep total (`bertrand/types/base/meta.py` comparison protocol —
    * every graft type is totally ordered, so argmin/argmax is always
    * well-defined).
    *
    * Device: ONE groupBy with lexicographic struct min/max — `max` of
    * `(value, -key)` yields max value then (on value ties) max(-key) =
    * MIN key; `min` of `(value, key)` yields min value then min key.
    * Struct min/max is a declarative aggregate: partial (map-side)
    * combine applies, one shuffle on the group key, per-group constant
    * state — no window, no sort of the fact table, no row_number
    * funnel. Scale: the same plan at any SF; date ties are common
    * (orders shares order dates heavily) so the tie-break is exercised
    * on real data, not just in the spec. */
  def t63GroupbyIdxmax(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_custkey"))
      .agg(
        max(struct(col("o_totalprice").as("v"),
          (-col("o_orderkey")).as("nk"))).as("mx"),
        min(struct(col("o_orderdate").as("v"),
          col("o_orderkey").as("k"))).as("mn"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey").as("custkey"),
        (-col("mx.nk")).as("idxmax_price"),
        col("mx.v").as("max_price"),
        col("mn.k").as("idxmin_date"),
        col("mn.v").as("min_date"),
        col("n_orders"))
      .orderBy("custkey")
  }

  // ---- T64: the pandas .dt accessor datasheet ------------------------------
  /** The pandas `.dt` accessor surface in one pass — year / quarter /
    * month / day / dayofweek / dayofyear / ISO week & ISO year /
    * days_in_month / is_leap_year / is_month_end / is_quarter_end —
    * the reference's PandasTimestamp component getters
    * (`bertrand/types/datetime.pyx` epoch/calendar utilities).
    *
    * Determinism engineering: the two cross-engine hazards are the
    * week-start convention (Spark `dayofweek` 1=Sun, DuckDB `dow`
    * 0=Sun, pandas 0=Mon) and ISO-week edge years (Jan 1 can be week
    * 52/53 of the PREVIOUS iso year). Both are eliminated by deriving
    * everything from the epoch ordinal: dow_mon = (ord+3) mod 7 (pure
    * integer, convention-free — 1970-01-01 was a Thursday), and the
    * ISO pair via the THURSDAY rule (ISO 8601: a date's ISO week/year
    * are those of its week's Thursday, so iso_year = year(thursday),
    * iso_week = (doy(thursday)-1) div 7 + 1) — only `year`, `doy`,
    * and date±days cross engines, all standard. Leap/month-end are
    * integer closed forms ([[TimeFns.isLeapYear]]/`daysInMonth`).
    * Map-only: no shuffle, no join, every getter codegen'd. */
  def t64DtAccessor(s: SparkSession, dir: String): DataFrame =
    dtAccessorColumns(t(s, dir, "orders")
      .select(col("o_orderkey").as("orderkey"),
        col("o_orderdate").cast(DateType).as("d")))

  /** The getter chain on any (orderkey, d: date) frame — factored so
    * the spec can drive pinned edge dates through the SAME columns. */
  private[graft] def dtAccessorColumns(o: DataFrame): DataFrame = {
    import graft.functions.TimeFns
    val ord = TimeFns.dateToOrdinal(col("d"))
    val dowMon = pmod(ord + 3, lit(7)) // 0=Mon..6=Sun, convention-free
    val thursday = TimeFns.ordinalToDate(ord + (lit(3) - dowMon))
    o.select(col("orderkey"), col("d"),
        year(col("d")).cast(IntegerType).as("y"),
        quarter(col("d")).cast(IntegerType).as("q"),
        month(col("d")).cast(IntegerType).as("m"),
        dayofmonth(col("d")).cast(IntegerType).as("dom"),
        dowMon.cast(IntegerType).as("dow_mon"),
        dayofyear(col("d")).cast(IntegerType).as("doy"),
        year(thursday).cast(IntegerType).as("iso_year"),
        (floor((dayofyear(thursday) - 1) / 7) + 1)
          .cast(IntegerType).as("iso_week"),
        dayofmonth(last_day(col("d"))).cast(IntegerType).as("days_in_month"),
        TimeFns.isLeapYear(year(col("d"))).as("is_leap_year"),
        (col("d") === last_day(col("d"))).as("is_month_end"),
        (col("d") === last_day(col("d")) &&
          month(col("d")).isin(3, 6, 9, 12)).as("is_quarter_end"))
      .orderBy("orderkey")
  }

  // ---- T65: pandas Series.autocorr (lagged self-correlation) --------------
  /** pandas `s.autocorr(lag)` per key: Pearson correlation of the
    * per-user DAILY-TOTAL series with itself shifted by 1 and by 7
    * positions — "does yesterday (last week) predict today", the
    * seasonality read run before fitting any forecast. pandas
    * semantics exactly: shift is POSITIONAL over the observed series
    * (`s.corr(s.shift(k))` — calendar gaps do not re-align), pairs
    * with a null lag drop out, and the mean is taken over the ALIGNED
    * pairs (plain Pearson on (x_t, x_{t−k})).
    *
    * Exactness discipline (the t61/t49 lineage): daily totals are
    * exact integer cents and the five Pearson sums accumulate as
    * DECIMAL(38,0) over the aligned pairs (order-free at any
    * partitioning); r is [[graft.operators.SeriesStats.pearson]]'s
    * exact-integer kernel and pinned IEEE terminal. Daily totals,
    * lags and sums are [[graft.operators.SeriesStats]]'s, shared with
    * the S35 streaming fold.
    *
    * Scale shape: one (user, day) groupBy, then ONE user-key
    * Exchange+Sort serves both lag columns, then a key-partitioned
    * aggregate — no global window, state per user is the five sums. */
  def t65Autocorr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SeriesStats._
    autocorr(lagPairSums(withDayLags(dailyCents(events(s, dir)))))
      .orderBy("user_id")
  }

  // ---- T66: pandas merge(validate=...) relationship contract ---------------
  /** pandas `merge(..., validate='1:1'|'1:m'|'m:1'|'m:m')` as a
    * REPORT instead of a raise: for two real join pairs
    * (customer→orders on custkey — genuinely 1:m; orders→lineitem on
    * orderkey — genuinely 1:m) every mode's verdict plus the evidence
    * (how many join keys are duplicated on each side). pandas
    * semantics: a mode constrains KEY UNIQUENESS per frame — 1:1
    * needs both sides unique, 1:m the left, m:1 the right, m:m
    * nothing — independent of whether keys actually match across.
    * The contract check a pipeline runs BEFORE a merge whose
    * fan-out would silently duplicate rows.
    *
    * All counts exact integers; per pair ONE groupBy per side on the
    * join key collapsed to a 1-row dup summary (map-side combinable),
    * then the four mode rows explode from a literal array — the x30
    * device: the frames are scanned once per side, the mode grid
    * costs nothing. */
  def t66MergeValidate(s: SparkSession, dir: String): DataFrame = {
    def dupKeys(df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, 1L)), lit(0L)).as("dups"))
    def pair(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame =
      dupKeys(left, lk).crossJoin(
          dupKeys(right, rk).withColumnRenamed("dups", "rdups"))
        .select(explode(array(
          struct(lit("1:1").as("mode"),
            (col("dups") === 0 && col("rdups") === 0).as("ok")),
          struct(lit("1:m").as("mode"), (col("dups") === 0).as("ok")),
          struct(lit("m:1").as("mode"), (col("rdups") === 0).as("ok")),
          struct(lit("m:m").as("mode"), lit(true).as("ok")))).as("e"),
          col("dups"), col("rdups"))
        .select(lit(name).as("pair"), col("e.mode").as("mode"),
          col("e.ok").as("is_valid"),
          col("dups").as("n_dup_left_keys"),
          col("rdups").as("n_dup_right_keys"))
    pair("customer_orders",
        t(s, dir, "customer").select("c_custkey"), "c_custkey",
        t(s, dir, "orders").select("o_custkey"), "o_custkey")
      .unionByName(pair("orders_lineitem",
        t(s, dir, "orders").select("o_orderkey"), "o_orderkey",
        t(s, dir, "lineitem").select("l_orderkey"), "l_orderkey"))
      .orderBy("pair", "mode")
  }

  // ---- T67: stack / unstack multi-level reshape round trip -----------------
  /** pandas `stack()`/`unstack()` — the MULTI-LEVEL reshape pair t32's
    * melt (single-level wide→long) and t62's pivot_table (aggregate
    * pivot) don't exercise: a two-level index (priority, status) ×
    * quarter frame is UNSTACKED (quarter level → q1..q4 columns,
    * absent cells null per pandas NaN) and then STACKED back
    * (columns → inner index level, null cells DROPPED — pandas
    * dropna=True default), and the query's output IS the stacked-back
    * long frame — so the hash match against the directly-computed
    * long aggregate proves unstack∘stack = identity including the
    * NaN-drop rule. Absent cells are PLANTED (status P × quarters
    * 2/3 filtered out) so nulls exist to drop at every SF. Plan: ONE
    * groupBy-pivot shuffle with explicit level lists (the t15/t42
    * code contract — no discovery scan); the stack is Spark's native
    * `unpivot` — a generate, zero extra shuffles. Exact integer
    * cents. */
  def t67StackUnstack(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq("q1", "q2", "q3", "q4")
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"),
        concat(lit("q"), quarter(col("o_orderdate"))).as("quarter"),
        (dec(col("o_totalprice")) * 100).cast(LongType).as("c"))
      .filter(!(col("status") === "P" && col("quarter").isin("q2", "q3")))
    val unstacked = base.groupBy("priority", "status")
      .pivot("quarter", qs).agg(sum("c"))
    unstacked
      .unpivot(Array(col("priority"), col("status")),
        qs.map(col).toArray, "quarter", "sum_cents")
      .filter(col("sum_cents").isNotNull) // pandas stack dropna=True
      .orderBy("priority", "status", "quarter")
  }

  // ---- T68: rolling quantile (linear interpolation) -------------------------
  /** pandas `rolling(4, min_periods=4).quantile(q)` for q ∈ {0.25,
    * 0.5, 0.75}, interpolation='linear' — extending t52's
    * selection-network device from the 3-median to full 4-element
    * ORDER STATISTICS: the 5-comparator min/max network (no sort, no
    * arithmetic) yields x0≤x1≤x2≤x3 bit-for-bit equal to the inputs,
    * then each quantile is pandas' idx = q·(n−1) linear blend —
    * x_⌊idx⌋ + frac·(x_⌊idx⌋₊₁ − x_⌊idx⌋) — ONE pinned IEEE
    * multiply-add per output (q25: x0+0.75·(x1−x0); q50:
    * x1+0.5·(x2−x1); q75: x2+0.25·(x3−x2)). The t45 lag-pinned
    * discipline: explicit lags fix the frame, warm-up rows are null
    * exactly like pandas NaN, and ONE partition-key Exchange+Sort
    * serves all three lags and every quantile. The mergeable q60
    * histogram sketch is the documented 100 TB swap for long windows;
    * this is the exact short-window form. Lags and blends are
    * [[graft.operators.SeriesStats.withRollingQuantiles]], shared with
    * streaming S37, so the live fold equals this batch pass by
    * construction. */
  def t68RollingQuantile(s: SparkSession, dir: String): DataFrame =
    graft.operators.SeriesStats.withRollingQuantiles(events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
          col("event_id"), col("value")))
      .orderBy("user_id", "es", "event_id")

  // ---- T69: merge_ordered with group-wise forward fill -----------------------
  /** pandas `merge_ordered(left, right, on='ts', left_by='user_id',
    * fill_method='ffill')` — the ORDERED two-frame merge verb (align
    * two per-key time series onto the union of their timestamps,
    * forward-filling each frame's columns over the other's rows) that
    * q46's grid resample and t30's interpolate don't express: here
    * the grid is the OTHER SERIES' event times, not a calendar. Left
    * = view events, right = purchase events per user; output = every
    * event instant of either series with both series' last-known
    * values. Tie rule pinned: same-instant rows order left-before-
    * right then by event id (pandas keeps left frame first on key
    * ties). Plan: tagged unionByName (no join — the merge IS a union
    * + fill) and BOTH ffill windows ride ONE user-key Exchange+Sort;
    * unmatched leading rows stay null exactly like pandas NaN. */
  def t69MergeOrdered(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("event_type"), col("value"))
    val left = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("es"), col("event_id"),
        lit(0).as("src"), col("value").as("v_view"),
        lit(null).cast(DoubleType).as("v_buy"))
    val right = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("es"), col("event_id"),
        lit(1).as("src"), lit(null).cast(DoubleType).as("v_view"),
        col("value").as("v_buy"))
    val w = Window.partitionBy("user_id").orderBy("es", "src", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .select(col("user_id"), col("es"), col("event_id"), col("src"),
        last(col("v_view"), ignoreNulls = true).over(w).as("v_view"),
        last(col("v_buy"), ignoreNulls = true).over(w).as("v_buy"))
      .orderBy("user_id", "es", "src", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t69_merge_ordered" -> t69MergeOrdered _,
    "t67_stack_unstack" -> t67StackUnstack _,
    "t68_rolling_quantile" -> t68RollingQuantile _,
    "t66_merge_validate" -> t66MergeValidate _,
    "t65_autocorr" -> t65Autocorr _,
    "t64_dt_accessor" -> t64DtAccessor _,
    "t63_groupby_idxmax" -> t63GroupbyIdxmax _,
    "t60_combine_first" -> t60CombineFirst _,
    "t59_custom_cast" -> t59CustomCast _,
    "t56_kleene_bool" -> t56KleeneBool _,
    "t58_business_days" -> t58BusinessDays _,
    "t57_query_predicates" -> t57QueryPredicates _,
    "t70_eval_program" -> t70EvalProgram _,
    "t55_frame_compare" -> t55FrameCompare _,
    "t54_json_normalize" -> t54JsonNormalize _,
    "t53_resample_ohlc" -> t53ResampleOhlc _,
    "t52_rolling_median" -> t52RollingMedian _,
    "t51_factorize" -> t51Factorize _,
    "t50_mad_outliers" -> t50MadOutliers _,
    "t49_rolling_corr" -> t49RollingCorr _,
    "t48_expanding" -> t48Expanding _,
    "t61_expanding_skew_kurt" -> t61ExpandingSkewKurt _,
    "t62_pivot_table" -> t62PivotTable _,
    "t47_union_typecheck" -> t47UnionTypecheck _,
    "t46_sparse_categorical" -> t46SparseCategorical _,
    "t44_ewm" -> t44Ewm _,
    "t45_rolling_std" -> t45RollingStd _,
    "t41_merge_indicator" -> t41MergeIndicator _,
    "t42_get_dummies" -> t42GetDummies _,
    "t43_clip_where" -> t43ClipWhere _,
    "t40_timezone" -> t40Timezone _,
    "t39_crosstab" -> t39Crosstab _,
    "t37_group_transform" -> t37GroupTransform _,
    "t38_drop_duplicates" -> t38DropDuplicates _,
    "t36_array_ops" -> t36ArrayOps _,
    "t35_str_accessor" -> t35StrAccessor _,
    "t32_melt" -> t32Melt _,
    "t33_rank_methods" -> t33RankMethods _,
    "t34_shift_diff" -> t34ShiftDiff _,
    "t31_cut_qcut" -> t31CutQcut _,
    "t30_interpolate" -> t30Interpolate _,
    "t29_cast_ignore" -> t29CastIgnore _,
    "t28_ingest_infer" -> t28IngestInfer _,
    "t27_profile" -> t27Profile _,
    "t26_sparse_compute" -> t26SparseCompute _,
    "t25_object_roundtrip" -> t25ObjectRoundtrip _,
    "t23_parse_datetime" -> t23ParseDatetime _,
    "t24_to_string" -> t24ToString _,
    "t21_unit_calendar" -> t21UnitCalendar _,
    "t22_parse_strings" -> t22ParseStrings _,
    "t20_round_decimal" -> t20RoundDecimal _,
    "t1_detect_types" -> t1Detect _,
    "t2_resolve_spec" -> t2Resolve _,
    "t3_typecheck" -> t3Typecheck _,
    "t4_cast_int" -> t4CastInt _,
    "t5_cast_bool" -> t5CastBool _,
    "t6_cast_string_num" -> t6CastStringNum _,
    "t7_cast_datetime" -> t7CastDatetime _,
    "t8_cast_timedelta" -> t8CastTimedelta _,
    "t9_cast_decimal" -> t9CastDecimal _,
    "t10_round_rules" -> t10RoundRules _,
    "t11_round_div" -> t11RoundDiv _,
    "t12_tolerance_snap" -> t12Snap _,
    "t13_downcast" -> t13Downcast _,
    "t14_missing" -> t14Missing _,
    "t15_categorical" -> t15Categorical _,
    "t16_sparse" -> t16Sparse _,
    "t17_time_units" -> t17TimeUnits _,
    "t18_cast_complex" -> t18Complex _,
    "t19_mixed_sac" -> t19MixedSac _,
  )
}
