package graft

import graft.expressions.DetectKernel
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Differential proof that the fused DetectClass byte-scan reproduces
  * the regex formulation it replaced, lane by lane. */
class DetectClassSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val intRe = "^[+-]?\\d+$"
  private val floatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"
  private val boolTokens =
    Seq("true", "false", "t", "f", "yes", "no", "y", "n", "1", "0", "on", "off")
  private val dateRe =
    "^\\d{4}-\\d{2}-\\d{2}([ T]\\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?)?$"

  private val grid = Seq(
    "0", "1", "+1", "-42", "007", "+", "-", "", " ", "  12  ", "1 2",
    "3.14", "-0.5", ".5", "+.5", "5.", ".", "+.", "-.e5", "1e5", "1E-9",
    "1e", "1e+", "2.5e10", ".5e+3", "5.e2", "e5", "++1", "1.2.3", "1,2",
    "true", "TRUE", "False", "t", "F", "yes", "No", "y", "N", "on", "OFF",
    "0", "1", "tru", "yess", "onn", " true ", "truee", "falsey",
    "2021-01-31", "2021-1-31", "2021-01-31 12:30", "2021-01-31T12:30",
    "2021-01-31 12:30:59", "2021-01-31 12:30:59.123", "2021-01-31 12:30:59.",
    "2021-01-31X12:30", "2021-01-31 12:30:", "2021-01-31 12-30",
    "9999-99-99", "2021-01-31 12:30:59.123456789", "21-01-31", "2021-01-311",
    "häst", "naïve", "ＴＲＵＥ", "１２３", "ſ", "Kt", "İ", "-١٢",
    "  1", "1 ", "12​", "✓", "𝟙")

  test("kernel mask matches the regex lanes on the adversarial grid") {
    for (s <- grid) {
      val t = s.trim // ASCII-space trim for these inputs — matches SQL trim
      val m = DetectKernel.classify(UTF8String.fromString(s))
      assert(((m & DetectKernel.INT) > 0) == t.matches(intRe), s"int lane: '$s'")
      assert(((m & DetectKernel.NUM) > 0) == t.matches(floatRe), s"num lane: '$s'")
      assert(((m & DetectKernel.BOOL) > 0) == boolTokens.contains(t.toLowerCase),
        s"bool lane: '$s'")
      assert(((m & DetectKernel.DATE) > 0) == t.matches(dateRe), s"date lane: '$s'")
    }
  }

  test("compiled expression agrees with the SQL regex formulation end-to-end") {
    val strs = grid ++ Seq.tabulate(2000) { i =>
      // deterministic fuzz: digits, signs, dots, letters, spaces, unicode
      val rnd = new scala.util.Random(i)
      val alphabet = "0123456789+-.eE tTfF:yYnNä✓ "
      String.valueOf(Array.fill(rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length))))
    }
    val df = strs.toDF("s")
    val maskCol = graft.expressions.Kernels.detectClass(col("s"))
    val v = trim(col("s"))
    val regexMask =
      when(v.rlike(intRe), 1).otherwise(0) +
      when(v.rlike(floatRe), 2).otherwise(0) +
      when(lower(v).isin(boolTokens: _*), 4).otherwise(0) +
      when(v.rlike(dateRe), 8).otherwise(0)
    val bad = df.select(col("s"), maskCol.as("m"), regexMask.as("rm"))
      .filter(col("m") =!= col("rm"))
    assert(bad.isEmpty, bad.limit(5).collect().mkString(", "))
  }

  test("null propagates and detectTypes decisions are unchanged") {
    val df = Seq(
      (Some("1"), Some("1.5"), Some("yes"), Some("2021-01-01"), Some("word")),
      (None: Option[String], None, None, None, None),
      (Some("-3"), Some("2e4"), Some("off"), Some("2021-01-01 10:00"), Some("2"))
    ).toDF("i", "f", "b", "d", "s")
    val got = graft.types.Detect.detectTypes(df).toMap
    assert(got == Map("i" -> "int64", "f" -> "float64", "b" -> "bool",
      "d" -> "datetime", "s" -> "string"))
  }
}
