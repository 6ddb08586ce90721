package graft

import graft.functions._
import graft.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class TypeResolverSpec extends AnyFunSuite {
  test("aliases resolve to canonical specs") {
    assert(TypeResolver.resolve("?") == GBoolean)
    assert(TypeResolver.resolve("i8") == GInteger(64))
    assert(TypeResolver.resolve("int8") == GInteger(8))
    assert(TypeResolver.resolve("u4") == GInteger(32, signed = false))
    assert(TypeResolver.resolve("half") == GFloat(16))
    assert(TypeResolver.resolve("NA") == GMissing)
  }
  test("parameterized + decorator specs round-trip") {
    for (spec <- Seq("decimal(10,2)", "sparse[int64, 0]", "categorical[string]",
        "sparse[categorical[int8]]", "datetime[US/Pacific]"))
      assert(TypeResolver.resolve(TypeResolver.resolve(spec).spec).spec ==
        TypeResolver.resolve(spec).spec, spec)
  }
  test("datetime tz preserves case") {
    assert(TypeResolver.resolve("datetime[UTC]").spec == "datetime[UTC]")
  }
  test("unknown spec raises") {
    intercept[IllegalArgumentException](TypeResolver.resolve("wibble"))
  }
  test("uint carried in wider signed spark types") {
    assert(TypeResolver.resolve("uint8").sparkType == ShortType)
    assert(TypeResolver.resolve("uint64").sparkType == DecimalType(20, 0))
  }

  test("custom type registration: the reference's 10-line tutorial") {
    // reference README doctest: @register class CustomType with aliases
    // {"foo","bar"}, then resolve_type("foo") and aliases.add("baz")
    import org.apache.spark.sql.functions._
    TypeRegistry.register(
      GCustom("custom", StringType, "custom"),
      aliases = Seq("foo", "bar"),
      caster = Some(c => upper(c)))
    try {
      assert(TypeResolver.resolve("foo").spec == "custom")
      assert(TypeResolver.resolve("BAR").spec == "custom")
      TypeRegistry.addAlias("foo", "baz")
      assert(TypeResolver.resolve("baz").spec == "custom")
      // decorator composition over a custom type
      assert(TypeResolver.resolve("sparse[foo]").spec == "sparse[custom]")
      // the registered cast kernel is live in Column.castTo
      import graft.syntax._
      import TestSpark.spark.implicits._
      val got = Seq("hi").toDF("s").select($"s".castTo("foo")).as[String].head()
      assert(got == "HI")
    } finally Seq("foo", "bar", "baz").foreach(TypeRegistry.unregister)
  }

  test("unregistered alias resolves no more") {
    intercept[IllegalArgumentException](TypeResolver.resolve("foo"))
  }

  test("dispatch override: user cast overload beats the builtin (dispatch.py:2453)") {
    import graft.syntax._
    import org.apache.spark.sql.functions.col
    import TestSpark.spark.implicits._
    val df = Seq("ja", "nein", "true", "x").toDF("s")
    def run() = df.select(col("s"),
        $"s".castTo("bool", CastOptions(errors = "coerce")).cast("string").as("b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // builtin kernel: only the default token sets parse
    val before = run()
    assert(before == Map("ja" -> null, "nein" -> null, "true" -> "true", "x" -> null))
    // a user overload for the SAME spec wins over the builtin,
    // immediately, through the same Column.castTo entry point
    TypeRegistry.overrideCast("bool", c =>
      Casts.toBoolean(c, org.apache.spark.sql.types.StringType,
        CastOptions(errors = "coerce",
          trueTokens = Seq("true", "ja"), falseTokens = Seq("false", "nein"))))
    try {
      val after = run()
      assert(after == Map("ja" -> "true", "nein" -> "false",
        "true" -> "true", "x" -> null))
    } finally TypeRegistry.unregister("bool")
    // the builtin kernel is restored once the override is dropped
    assert(run() == before)
  }

  test("t59 kernels: registration then override, end-to-end via castTo") {
    // the t59_custom_cast device in miniature (distinct spec name so
    // the registry never collides with the registered query)
    import graft.syntax._
    import TestSpark.spark.implicits._
    val df = Seq(12.34, 0.05).toDF("p")
    TypeRegistry.register(GCustom("t59s_money", LongType, "integer"),
      Seq("t59s_money"),
      Some(c => (c.cast(DecimalType(12, 0)) * 100).cast(LongType)))
    try {
      // the coarse registration kernel is what castTo consults first
      val coarse = df.select($"p".castTo("t59s_money")).as[Long].collect()
      assert(coarse.toSeq == Seq(1200L, 0L))
      // cast(call=fn): the override replaces it, most-recent wins
      TypeRegistry.overrideCast("t59s_money",
        c => (c.cast(DecimalType(12, 2)) * 100).cast(LongType))
      val exact = df.select($"p".castTo("t59s_money")).as[Long].collect()
      assert(exact.toSeq == Seq(1234L, 5L))
    } finally TypeRegistry.unregister("t59s_money")
    // unregistered: the spec no longer resolves at all
    intercept[IllegalArgumentException](TypeResolver.resolve("t59s_money"))
  }
}

class RoundingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val cases = Seq(2.5, -2.5, 3.5, -3.5, 2.4, -2.4, 2.6, -2.6, 0.0, 7.0)

  test("roundFloat matches BigDecimal reference for all rules") {
    import java.math.RoundingMode
    val modes = Map(
      "floor" -> RoundingMode.FLOOR, "ceiling" -> RoundingMode.CEILING,
      "down" -> RoundingMode.DOWN, "up" -> RoundingMode.UP,
      "half_down" -> RoundingMode.HALF_DOWN, "half_up" -> RoundingMode.HALF_UP,
      "half_even" -> RoundingMode.HALF_EVEN)
    val df = cases.toDF("x")
    for ((rule, mode) <- modes) {
      val got = df.select(Rounding.roundFloat($"x", rule).as("r"))
        .collect().map(_.getDouble(0)).toSeq
      val want = cases.map(v =>
        new java.math.BigDecimal(v).setScale(0, mode).doubleValue())
      assert(got == want, s"rule=$rule got=$got want=$want")
    }
  }

  test("half_floor / half_ceiling tie directions") {
    val df = cases.toDF("x")
    val hf = df.select(Rounding.roundFloat($"x", "half_floor").as("r"))
      .collect().map(_.getDouble(0)).toSeq
    val hc = df.select(Rounding.roundFloat($"x", "half_ceiling").as("r"))
      .collect().map(_.getDouble(0)).toSeq
    assert(hf(0) == 2.0 && hf(1) == -3.0) // 2.5→2, -2.5→-3
    assert(hc(0) == 3.0 && hc(1) == -2.0) // 2.5→3, -2.5→-2
  }

  test("roundDiv matches Math.floorDiv/ceil reference incl. negatives") {
    val pairs = for (a <- Seq(-7L, -6L, -1L, 0L, 1L, 6L, 7L, 9L); b <- Seq(2L, 3L, -2L))
      yield (a, b)
    val df = pairs.toDF("a", "b")
    val gotFloor = df.select(Rounding.roundDiv($"a", $"b", "floor")).as[Long].collect().toSeq
    assert(gotFloor == pairs.map { case (a, b) => Math.floorDiv(a, b) })
    val gotCeil = df.select(Rounding.roundDiv($"a", $"b", "ceiling")).as[Long].collect().toSeq
    assert(gotCeil == pairs.map { case (a, b) => -Math.floorDiv(-a, b) })
    val gotHalfEven = df.select(Rounding.roundDiv($"a", $"b", "half_even")).as[Long].collect().toSeq
    val wantHalfEven = pairs.map { case (a, b) =>
      BigDecimal(a).bigDecimal.divide(BigDecimal(b).bigDecimal, 0,
        java.math.RoundingMode.HALF_EVEN).longValueExact()
    }
    assert(gotHalfEven == wantHalfEven)
  }

  test("snap only moves values within tolerance") {
    val df = Seq(1.99, 2.2, 2.31, -0.05).toDF("x")
    val got = df.select(Rounding.snap($"x", 0.3).as("r")).as[Double].collect().toSeq
    assert(got == Seq(2.0, 2.0, 2.31, 0.0))
  }
}

class CastsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("toBoolean coerce + custom tokens") {
    val df = Seq("yes", " NO ", "maybe", "1", "off").toDF("s")
    val got = df.select(Casts.toBoolean($"s", StringType,
      CastOptions(errors = "coerce")).as("b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0))).toSeq
    assert(got == Seq(Some(true), Some(false), None, Some(true), Some(false)))
    val custom = df.select(Casts.toBoolean($"s", StringType,
      CastOptions(errors = "coerce", trueTokens = Seq("maybe"),
        falseTokens = Seq("yes"))).as("b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0))).toSeq
    assert(custom == Seq(Some(false), None, Some(true), None, None))
  }

  test("toBoolean raise throws on bad token") {
    val df = Seq("nope-not-bool").toDF("s")
    val ex = intercept[Exception] {
      df.select(Casts.toBoolean($"s", StringType).as("b")).collect()
    }
    assert(ex.getMessage.contains("graft.cast") ||
      ex.getCause != null && ex.getCause.getMessage.contains("graft.cast"))
  }

  test("toInteger overflow coerces to null, in-range passes") {
    val df = Seq(127.4, 128.0, -129.0, 12.5).toDF("x")
    val got = df.select(Casts.toInteger($"x", DoubleType, GInteger(8),
      CastOptions(rounding = Some("half_even"), errors = "coerce")).as("i"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getByte(0))).toSeq
    assert(got == Seq(Some(127.toByte), None, None, Some(12.toByte)))
  }

  test("toInteger without rounding enforces tolerance") {
    val df = Seq(5.0000001, 5.4).toDF("x")
    val got = df.select(Casts.toInteger($"x", DoubleType, GInteger(64),
      CastOptions(errors = "coerce", tol = 1e-3)).as("i"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(Some(5L), None))
  }

  test("toInteger coerces NaN/Infinity/overflow to null under ANSI") {
    val df = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e300, 5.0).toDF("x")
    val got = df.select(Casts.toInteger($"x", DoubleType, GInteger(64),
      CastOptions(rounding = Some("half_even"), errors = "coerce")).as("i"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(None, None, None, None, Some(5L)))
  }

  test("toInteger coerces over-long digit strings to null under ANSI") {
    val df = Seq("99999999999999999999999", "42").toDF("s")
    val got = df.select(Casts.toInteger($"s", StringType, GInteger(64),
      CastOptions(errors = "coerce")).as("i"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(None, Some(42L)))
  }

  test("toDecimal coerces out-of-precision to null under ANSI") {
    val df = Seq(1e20, 12.34).toDF("x")
    val got = df.select(Casts.toDecimal($"x", DoubleType, GDecimal(10, 2),
      CastOptions(errors = "coerce")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDecimal(0).toString)).toSeq
    assert(got == Seq(None, Some("12.34")))
  }

  test("toInteger parses base-16 strings") {
    val df = Seq("ff", "10").toDF("s")
    val got = df.select(Casts.toInteger($"s", StringType, GInteger(64),
      CastOptions(base = 16, errors = "coerce")).as("i")).as[Long].collect().toSeq
    assert(got == Seq(255L, 16L))
  }

  test("radix casts at the int64 edges: Long.MinValue renders and parses in base 16") {
    val df = Seq(Long.MinValue, Long.MaxValue, -1L).toDF("n")
    val hex = df.select(Casts.toString($"n", LongType,
      CastOptions(base = 16, errors = "coerce")).as("s")).as[String].collect().toSeq
    assert(hex == Seq("-8000000000000000", "7fffffffffffffff", "-1"))
    val back = hex.toDF("s").select(Casts.toInteger($"s", StringType, GInteger(64),
      CastOptions(base = 16, errors = "coerce")).as("i")).as[Long].collect().toSeq
    assert(back == Seq(Long.MinValue, Long.MaxValue, -1L))
  }

  test("toDatetime unit/since roundtrip") {
    val df = Seq(60L).toDF("v")
    val got = df.select(unix_micros(Casts.toDatetime($"v", LongType,
      CastOptions(unit = "m", since = "2024-01-01 00:00:00"))).as("us"))
      .as[Long].collect().head
    assert(got == 1704067200000000L + 3600L * 1000000L)
  }
}

class DowncastSpec extends AnyFunSuite {
  import TestSpark._

  test("plan picks narrowest lossless types on lineitem") {
    val li = Tables.t(spark, sf, "lineitem")
    val plan = Downcast.plan(li,
      Seq("l_linenumber", "l_quantity", "l_extendedprice")).map(p => p._1 -> p._4).toMap
    assert(plan("l_linenumber") == "int8")
    assert(plan("l_quantity") == "int8") // integral doubles 1..50
    assert(plan("l_extendedprice") == "float64") // fractional, f32-lossy
  }

  test("apply narrows the physical schema") {
    val li = Tables.t(spark, sf, "lineitem")
    val out = Downcast(li, Seq("l_linenumber", "l_quantity"))
    assert(out.schema("l_linenumber").dataType == ByteType)
    assert(out.schema("l_quantity").dataType == ByteType)
  }
}

class DetectSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("content inference on string columns") {
    val df = Seq(
      ("1", "1.5", "true", "2024-01-01", "hello"),
      ("-42", "2", "no", "2024-02-03 04:05:06", "3.5"),
    ).toDF("i", "f", "b", "d", "s")
    val got = Detect.detectTypes(df).toMap
    assert(got == Map("i" -> "int64", "f" -> "float64", "b" -> "bool",
      "d" -> "datetime", "s" -> "string"))
  }

  test("all-null string column detects as missing") {
    val df = Seq.fill(3)(Option.empty[String]).toDF("x")
    assert(Detect.detectTypes(df) == Seq("x" -> "missing"))
  }

  test("typecheck family match + mismatch") {
    val df = Seq((1L, "abc")).toDF("k", "v")
    val res = Detect.typecheck(df, Seq("k" -> "int32", "v" -> "bool"))
    assert(res.find(_._1 == "k").get._4) // int64 vs int32: same family → ok
    assert(!res.find(_._1 == "v").get._4)
  }
}

class CalendarParseSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.functions.{CastOptions, Casts, TimeFns}
  import org.apache.spark.sql.types.{IntegerType, StringType}

  test("calendar-unit casts: months/years since named epochs, with step") {
    val df = Seq(0, 1, 14, 479).toDF("n")
    val got = df.select(date_format(Casts.toDatetime($"n", IntegerType,
        CastOptions(unit = "M", since = "lotus")), "yyyy-MM-dd").as("d"))
      .as[String].collect().toSeq
    // lotus = 1899-12-30; +2M clamps into Feb (1900 is NOT a leap year)
    assert(got == Seq("1899-12-30", "1900-01-30", "1901-02-28", "1939-11-30"))
    val y = df.select(year(Casts.toDatetime($"n", IntegerType,
      CastOptions(unit = "Y", since = "gps", stepSize = 2))).as("y")).as[Int].collect()
    assert(y.toSeq == Seq(1980, 1982, 2008, 2938))
  }

  test("epoch aliases resolve; unknown strings pass through") {
    assert(TimeFns.resolveEpoch("J2000") == "2000-01-01 12:00:00")
    assert(TimeFns.resolveEpoch("reduced julian") == "1858-11-16 12:00:00")
    assert(TimeFns.resolveEpoch("2024-05-05") == "2024-05-05")
  }

  test("calendar unit is case-sensitive: M=month, m=minute") {
    val df = Seq(90).toDF("n")
    val mo = df.select(unix_seconds(Casts.toDatetime($"n", IntegerType,
      CastOptions(unit = "m"))).as("s")).as[Long].head()
    assert(mo == 90L * 60)
    val mon = df.select(date_format(Casts.toDatetime($"n", IntegerType,
      CastOptions(unit = "M")), "yyyy-MM").as("d")).as[String].head()
    assert(mon == "1977-07")
  }

  test("timedelta strings: clock, abbrev, longhand, sign, fractions") {
    val cases = Seq(
      "1:30:00" -> Some(5400000000L),
      "2:15" -> Some(135000000L), // minutes:seconds by default
      "1h30m" -> Some(5400000000L),
      "2 days 4h" -> Some(2L * 86400000000L + 4L * 3600000000L),
      "1.5h" -> Some(5400000000L),
      "90" -> Some(90000000L),
      "-0:00:30.5" -> Some(-30500000L),
      "1 week" -> Some(604800000000L),
      "250ms" -> Some(250000L),
      "3d1:00:00" -> Some(3L * 86400000000L + 3600000000L),
      "12 minutes" -> Some(720000000L),
      "+2us" -> Some(2L),
      "nonsense" -> None,
      "1x30m" -> None,
    )
    val df = cases.map(_._1).toDF("s")
    val got = df.select(Casts.toTimedelta($"s", StringType,
      CastOptions(errors = "coerce")).as("us")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == cases.map(_._2))
  }

  test("complex strings: a+bj, bare imaginary, parens, real-only, coerce") {
    val cases = Seq(
      "1+2j" -> Some((1.0, 2.0)),
      "-1.5-2.5j" -> Some((-1.5, -2.5)),
      "3j" -> Some((0.0, 3.0)),
      "-j" -> Some((0.0, -1.0)),
      "j" -> Some((0.0, 1.0)),
      "2.5" -> Some((2.5, 0.0)),
      "(1-1j)" -> Some((1.0, -1.0)),
      "1e2+0.5j" -> Some((100.0, 0.5)),
      "+4.25i" -> Some((0.0, 4.25)),
      "oops" -> None,
    )
    val df = cases.map(_._1).toDF("s")
    val got = df.select(Casts.toComplex($"s", StringType,
      CastOptions(errors = "coerce")).as("z")).collect().map { r =>
      if (r.isNullAt(0)) None
      else { val z = r.getStruct(0); Some((z.getDouble(0), z.getDouble(1))) }
    }
    assert(got.toSeq == cases.map(_._2))
  }

  test("castTo routes complex128 string parse") {
    import graft.syntax._
    val re = Seq("1+2j").toDF("s")
      .select($"s".castTo("complex128", CastOptions(errors = "coerce")).as("z"))
      .select($"z.re").as[Double].head()
    assert(re == 1.0)
  }
}

class RadixOrdinalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.functions.{CastOptions, Casts, TimeFns}
  import org.apache.spark.sql.types.LongType

  test("int → string radix output: lowercase digits, explicit sign") {
    val df = Seq(255L, -255L, 0L, 16L).toDF("n")
    val hex = df.select(Casts.toString($"n", LongType,
      CastOptions(base = 16)).as("s")).as[String].collect().toSeq
    assert(hex == Seq("ff", "-ff", "0", "10"))
    val bin = df.select(Casts.toString($"n", LongType,
      CastOptions(base = 2)).as("s")).as[String].collect().toSeq
    assert(bin == Seq("11111111", "-11111111", "0", "10000"))
    // round-trips through the string→int radix parser
    val back = df.select(Casts.toInteger(
      Casts.toString($"n", LongType, CastOptions(base = 16)),
      org.apache.spark.sql.types.StringType,
      graft.types.GInteger(64), CastOptions(base = 16)).as("b"))
      .as[Long].collect().toSeq
    assert(back == Seq(255L, -255L, 0L, 16L))
  }

  test("ns unit truncates toward zero into the micros lane") {
    val df = Seq(1500L, -1500L, 999L).toDF("n")
    val us = df.select(Casts.toTimedelta($"n", LongType,
      CastOptions(unit = "ns")).as("us")).as[Long].collect().toSeq
    assert(us == Seq(1L, -1L, 0L))
    val ts = df.select(unix_micros(Casts.toDatetime($"n", LongType,
      CastOptions(unit = "ns"))).as("t")).as[Long].collect().toSeq
    assert(ts == Seq(1L, -1L, 0L))
  }

  test("date ↔ ordinal: known anchors and inverse composition") {
    val df = Seq("1970-01-01", "1970-01-02", "1969-12-31", "2024-02-29").toDF("d")
    val ord = df.select(TimeFns.dateToOrdinal($"d").as("o")).as[Long].collect().toSeq
    assert(ord == Seq(0L, 1L, -1L, 19782L))
    val back = df.select(date_format(TimeFns.ordinalToDate(
      TimeFns.dateToOrdinal($"d")), "yyyy-MM-dd").as("b")).as[String].collect().toSeq
    assert(back == Seq("1970-01-01", "1970-01-02", "1969-12-31", "2024-02-29"))
  }
}

class CastArgumentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.functions.{CastOptions, Casts}
  import org.apache.spark.sql.types.StringType

  test("day_first / year_first disambiguate slashed dates") {
    val df = Seq("01/02/2003").toDF("s")
    def parse(o: CastOptions) = df.select(date_format(
      Casts.toDatetime($"s", StringType, o), "yyyy-MM-dd").as("d")).as[String].head()
    assert(parse(CastOptions(errors = "coerce", dayFirst = true)) == "2003-02-01")
    val yf = Seq("03/04/05").toDF("s").select(date_format(
      Casts.toDatetime($"s", StringType,
        CastOptions(errors = "coerce", yearFirst = true)), "yyyy-MM-dd").as("d"))
      .as[String].head()
    assert(yf == "2003-04-05")
  }

  test("tz localizes naive datetime strings to UTC instants") {
    val df = Seq("2024-06-01 12:00:00").toDF("s")
    val utc = df.select(date_format(Casts.toDatetime($"s", StringType,
      CastOptions(errors = "coerce", tz = Some("America/New_York"))),
      "yyyy-MM-dd HH:mm").as("d")).as[String].head()
    assert(utc == "2024-06-01 16:00") // EDT = UTC-4
  }

  test("as_hours flips 2-component clock interpretation") {
    val df = Seq("1:30").toDF("s")
    def td(o: CastOptions) = df.select(Casts.toTimedelta($"s", StringType, o)
      .as("us")).as[Long].head()
    assert(td(CastOptions(errors = "coerce")) == 90000000L) // 1m30s
    assert(td(CastOptions(errors = "coerce", asHours = true)) == 5400000000L) // 1h30m
  }

  test("ignore_case=false makes boolean tokens case-sensitive") {
    val df = Seq("TRUE", "true").toDF("s")
    val loose = df.select(Casts.toBoolean($"s", StringType,
      CastOptions(errors = "coerce")).as("b")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(loose.toSeq == Seq(Some(true), Some(true)))
    val strict = df.select(Casts.toBoolean($"s", StringType,
      CastOptions(errors = "coerce", ignoreCase = false)).as("b")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(strict.toSeq == Seq(None, Some(true)))
  }
}

class UnionTypeSpec extends AnyFunSuite {
  import TestSpark._
  import graft.types._

  test("union specs resolve, canonicalize, and round-trip") {
    val u = TypeResolver.resolve("int | float | str")
    assert(u.spec == "int64 | float64 | string")
    assert(u.family == "union")
    assert(TypeResolver.resolve(u.spec).spec == u.spec)
  }

  test("structured (named) unions resolve, round-trip, and admit by name") {
    // reference meta.py:1278: resolve("Union[foo: categorical[string], bar: decimal]")
    val u = TypeResolver.resolve("Union[foo: categorical[string], bar: decimal]")
    assert(u.isInstanceOf[GStructUnion])
    assert(u.spec == "Union[foo: categorical[string], bar: decimal(38,18)]")
    assert(u.family == "union")
    assert(TypeResolver.resolve(u.spec).spec == u.spec)
    // bare pairs without the wrapper; per-field unions bind looser than ':'
    val v = TypeResolver.resolve("foo: int32 | int64, bar: bool")
      .asInstanceOf[GStructUnion]
    assert(v.spec == "Union[foo: int32 | int64, bar: bool]")
    assert(v.admits("foo", GInteger(64)))
    assert(v.admits("bar", GBoolean))
    assert(!v.admits("bar", GString))
    assert(!v.admits("baz", GBoolean))
    // comma unions flatten; nested unions flatten (reference doctest)
    assert(TypeResolver.resolve("int8, uint32").spec == "int8 | uint32")
    assert(TypeResolver.resolve("Union[int16, int32 | int64]").spec ==
      "int16 | int32 | int64")
    // decimal(10,2) must survive the top-level comma split
    assert(TypeResolver.resolve("decimal(10,2)").spec == "decimal(10,2)")
    // mixed named/unnamed members are rejected like the reference
    intercept[IllegalArgumentException](
      TypeResolver.resolve("foo: int32, bool"))
  }

  test("typecheckStruct validates a DataFrame against a structured union") {
    val df = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val res = Detect.typecheckStruct(df,
        "l_orderkey: int32 | int64, l_quantity: int64, l_comment: string")
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(res("l_orderkey") == ("match", true))     // union member admits
    assert(res("l_quantity") == ("mismatch", false)) // float64 data
    assert(res("l_comment") == ("missing", false))   // contract field absent
    assert(res("l_returnflag") == ("extra", true))   // outside the contract
    intercept[IllegalArgumentException](
      Detect.typecheckStruct(df, "int64 | float64")) // not structured
  }

  test("unions nest inside decorators stay top-level only") {
    // the | split must not break bracketed payloads
    val t = TypeResolver.resolve("sparse[int8] | categorical[string]")
    assert(t.isInstanceOf[GUnion])
    assert(t.spec == "sparse[int8] | categorical[string]")
  }

  test("typecheck admits a column matching any union member") {
    val df = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val res = Detect.typecheck(df, Seq(
      "l_orderkey" -> "int | float",    // int64 → ok via int member
      "l_quantity" -> "int | float",    // float64 → ok via float member
      "l_returnflag" -> "int | float")) // string → fails
      .map(r => r._1 -> r._4).toMap
    assert(res("l_orderkey"))
    assert(res("l_quantity"))
    assert(!res("l_returnflag"))
  }
}

class ProfileSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("one-pass profile: nulls, exact distinct, string-rendered min/max") {
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None),
      (Some(3L), Some("a")), (None, Some("a"))
    ).toDF("id", "tag")
    val got = graft.types.Profile.profile(df, Seq("id", "tag"))
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("id", 4L, 1L, 2L, "1", "3"),
      ("tag", 4L, 1L, 2L, "a", "b")))
    // single scan: exactly one aggregate source, no join
    val plan = graft.types.Profile.profile(df, Seq("id", "tag"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"profile must be one pass:\n$plan")
  }
}

class CastIgnoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("errors=ignore is whole-column: one bad value keeps every row unchanged") {
    import graft.functions.{CastOptions, Casts}
    import graft.types.GInteger
    import org.apache.spark.sql.types.{LongType, StringType}
    val cast = (c: org.apache.spark.sql.Column) =>
      Casts.toInteger(c, StringType, GInteger(64), CastOptions(errors = "coerce"))

    val clean = Seq("1", "2", "300").toDF("v")
    val kept = Casts.castColumnOrKeep(clean, "v", cast)
    assert(kept.schema("v").dataType == LongType)
    assert(kept.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 300L))

    val dirty = Seq("1", "2x", "300").toDF("v")
    val unchanged = Casts.castColumnOrKeep(dirty, "v", cast)
    assert(unchanged.schema("v").dataType == StringType)
    assert(unchanged.as[String].collect().sorted.toSeq == Seq("1", "2x", "300"))

    // nulls are NOT failures (the reference's NA passes through ignore)
    val withNull = Seq(Some("1"), None, Some("3")).toDF("v")
    assert(Casts.castColumnOrKeep(withNull, "v", cast)
      .schema("v").dataType == LongType)
  }

  test("business-day arithmetic: hand-computed calendar grid") {
    import graft.functions.TimeFns
    import org.apache.spark.sql.functions.{col, to_date, lit}
    def add(d: String, n: Int): String =
      spark.range(1).select(TimeFns.businessDayAdd(
          to_date(lit(d)), n).cast("string")).head().getString(0)
    // 2024-01-05 = Friday
    assert(add("2024-01-05", 1) == "2024-01-08") // Fri+1 = Mon
    assert(add("2024-01-06", 1) == "2024-01-08") // Sat+1 = Mon (pandas roll)
    assert(add("2024-01-07", 2) == "2024-01-09") // Sun+2 = Tue
    assert(add("2024-01-01", 5) == "2024-01-08") // Mon+5 = next Mon
    assert(add("2024-01-01", 20) == "2024-01-29") // 4 business weeks
    assert(add("2024-01-03", 0) == "2024-01-03") // Wed+0 = itself
    assert(add("2024-01-04", 7) == "2024-01-15") // Thu+7 wraps 1 weekend... 2
    def between(a: String, b: String): Long =
      spark.range(1).select(TimeFns.businessDaysBetween(
          to_date(lit(a)), to_date(lit(b)))).head().getLong(0)
    assert(between("2024-01-01", "2024-02-01") == 23L) // Jan 2024 weekdays
    assert(between("2024-01-06", "2024-01-08") == 0L)  // Sat,Sun only
    assert(between("2024-01-05", "2024-01-06") == 1L)  // just Friday
    assert(between("2024-01-01", "2024-01-01") == 0L)
    // weekday index is Monday-based regardless of engine conventions
    val wd = spark.range(1).select(
      TimeFns.weekdayIndex(to_date(lit("2024-01-01")))).head().getLong(0)
    assert(wd == 0L) // 2024-01-01 was a Monday
  }
}
