package graft

import scala.jdk.CollectionConverters._

import java.util.regex.Pattern

import graft.expressions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** Every [[Kernels]] constructor, the Python-arithmetic expressions and
  * the custom loop Expressions give the same rows on both evaluation
  * paths: a local relation, where the optimizer folds the projection
  * through the interpreted `eval` (reflection for `StaticInvoke` and
  * `Invoke`), and an RDD scan, where it runs as generated code. The
  * input holds a null row and rows on which the null-returning kernels
  * return null. */
class KernelsSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("a", LongType), StructField("b", LongType),
    StructField("la", ArrayType(LongType, containsNull = false)),
    StructField("lb", ArrayType(LongType, containsNull = false)),
    StructField("toks", ArrayType(StringType)),
    StructField("hll1", BinaryType), StructField("hll2", BinaryType),
    StructField("kmv1", BinaryType), StructField("kmv2", BinaryType),
    StructField("da", ArrayType(DoubleType, containsNull = false)),
    StructField("db", ArrayType(DoubleType, containsNull = false)),
    StructField("x", DoubleType), StructField("y", DoubleType)))

  private def hll(vs: String*): Array[Byte] = {
    val regs = new Array[Byte](HllSketch.M)
    vs.foreach(HllSketch.addValue(regs, _))
    regs
  }

  private def kmv(vs: Long*): Array[Byte] = {
    val b = new KmvBuffer(4)
    vs.foreach(v => b.add(v * 0x9e3779b97f4a7c15L))
    KmvSketch.serialize(b)
  }

  private val rows = Seq(
    Row("1h 30m", 17L, 5L, Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L), Seq("the", "cat"),
      hll("a", "b", "c"), hll("c", "d"), kmv(1L to 10L: _*), kmv(5L to 20L: _*),
      Seq(1.0, -2.0, 0.5), Seq(0.25, 4.0, -1.0), 7.5, -2.0),
    Row("The  cat sat ON the mat;  Café naïve 1:30 the cat sat", -17L, -5L,
      Seq.empty[Long], Seq(2L), Seq("a", null), hll(), hll("x"), kmv(), kmv(1L),
      Seq.empty[Double], Seq(1.0), -7.5, 2.0),
    Row("(1.5-2j)", Long.MinValue, 7L, Seq(-4L, 0L, 9L), Seq(-4L, 9L), Seq.empty[String],
      hll("only"), hll("only"), kmv(3L), kmv(3L, 4L),
      Seq(0.0, 0.0, 0.0), Seq(3.0, -3.0), 1e18, 0.3),
    Row("abc", Long.MaxValue, -3L, Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue),
      Seq("Der", "die", "und"), hll("p", "q"), hll(), kmv(1L, 2L), kmv(2L, 3L),
      Seq(1e300, -1e-300), Seq(2.0, 2.0, 2.0, 2.0), -0.0, -1.5),
    Row("中文字符 2021-01-01 10:00", 0L, 1L, Seq(1L), Seq.empty[Long],
      Seq("x"), hll("k"), hll("k", "l"), kmv(7L), kmv(8L),
      Seq(-1.0), Seq.empty[Double], 3.25, 0.5),
    Row(null, null, null, null, null, null, null, null, null, null, null, null, null, null))

  private val bloom = {
    val b = BloomFilter.create(100, 0.01)
    Seq(17L, Long.MinValue, 0L).foreach(b.putLong)
    b
  }

  private val centroids = Array((3L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0)))

  private def expr(e: Expression): Column = ColumnBridge.column(e)
  private def ex(name: String): Expression = ColumnBridge.expression(col(name))

  /** Kernels whose column is never null, not even on the null row. */
  private val neverNull = Set("bandKeys", "bandKeys of minhash")

  private val entries: Seq[(String, Column)] = {
    val s = col("s")
    Seq(
      "detectClass" -> Kernels.detectClass(s),
      "timedeltaParse" -> Kernels.timedeltaParse(s, asHours = false),
      "timedeltaParse as_hours" -> Kernels.timedeltaParse(s, asHours = true),
      "complexParse" -> Kernels.complexParse(s),
      "intToBase" -> Kernels.intToBase(col("a"), 16),
      "intToBase base outside [2, 36]" -> Kernels.intToBase(col("a"), 37),
      "roundDiv" -> Kernels.roundDiv(col("a"), col("b"), "half_even"),
      "classifyNumeric" -> Kernels.classifyNumeric(s),
      "normalizeText" -> Kernels.normalizeText(s),
      "unicodeNormalize" -> Kernels.unicodeNormalize(s),
      "langId" -> Kernels.langId(s, Kernels.normalizeText(s)),
      "charGramHashes" -> Kernels.charGramHashes(s, 3),
      "wordShingleHashes" -> Kernels.wordShingleHashes(s, 2),
      "shingleMinMd5" -> Kernels.shingleMinMd5(s, 2),
      "tokenMd5Hashes" -> Kernels.tokenMd5Hashes(s),
      "dsirGramBuckets" -> Kernels.dsirGramBuckets(s, 16),
      "charGramKmv" -> Kernels.charGramKmv(s, 3, 4),
      "repetitionStats" -> Kernels.repetitionStats(s),
      "cdcChunkDigests" -> Kernels.cdcChunkDigests(s),
      "textEntropyNanos" -> Kernels.textEntropyNanos(s, 2),
      "hashClassifierScore" -> Kernels.hashClassifierScore(col("toks")),
      "simHash64" -> Kernels.simHash64(col("la")),
      "sortedIntersect" -> Kernels.sortedIntersect(col("la"), col("lb")),
      "hllEstimate" -> Kernels.hllEstimate(col("hll1")),
      "hllUnion" -> Kernels.hllUnion(col("hll1"), col("hll2")),
      "thetaEstimate" -> Kernels.thetaEstimate(col("kmv1")),
      "thetaUnion" -> Kernels.thetaUnion(col("kmv1"), col("kmv2")),
      "thetaIntersect" -> Kernels.thetaIntersect(col("kmv1"), col("kmv2")),
      "minhash" -> Kernels.minhash(col("la"), 8),
      "bandKeys" -> Kernels.bandKeys(col("la"), 4, 2),
      "bandKeys of minhash" -> Kernels.bandKeys(Kernels.minhash(col("la"), 8), 8, 4),
      "signLshBands" -> Kernels.signLshBands(col("da"), 4, 3, 3),
      "termCounts" -> Kernels.termCounts(col("toks"), Seq("a", "cat", "und")),
      "bloomMightContain" -> Kernels.bloomMightContain(bloom, col("a")),
      "integerParse base 10" -> Kernels.integerParse(s, 10, Long.MinValue, Long.MaxValue),
      "integerParse base 16" -> Kernels.integerParse(s, 16, -4096L, 4096L),
      "integerInRange" -> Kernels.integerInRange(col("a"), -20L, 20L),
      "py floordiv integral" -> expr(PyFloorDiv(ex("a"), ex("b"))),
      "py mod integral" -> expr(PyMod(ex("a"), ex("b"))),
      "py floordiv double" -> expr(PyFloorDiv(ex("x"), ex("y"))),
      "py mod double" -> expr(PyMod(ex("x"), ex("y"))),
      "py floordiv mixed" -> expr(PyFloorDiv(ex("a"), ex("y"))),
      "py mod mixed" -> expr(PyMod(ex("x"), ex("b"))),
      "ArrayDotProduct" -> expr(ArrayDotProduct(ex("da"), ex("db"))),
      "SortedLongArrayIntersectCount" -> Kernels.sortedIntersectCount(col("la"), col("lb")),
      "UpperTriOuterProduct" -> Kernels.upperTriOuter(col("da")),
      "NearestCentroidEuclid" -> Kernels.nearestCentroid(col("da"), centroids),
      "NearestCentroidCosine" -> Kernels.nearestCentroidCosine(col("da"),
        graft.operators.VectorOps.norm(col("da")), centroids))
  }

  /** The call each kernel makes in generated code: a static call, or
    * a call on an object literal (a reference object). */
  private def callsOf(c: Column): Seq[Pattern] = ColumnBridge.expression(c).collect {
    case si: StaticInvoke =>
      Pattern.compile(Pattern.quote(s"${si.objectName}.${si.functionName}("))
    case Invoke(Literal(_, ObjectType(cls)), fn, _, _, _, _, _, _) =>
      Pattern.compile(Pattern.quote(s"((${cls.getName}) references[") +
        """\d+\] /\* literal \*/\)\.""" + Pattern.quote(s"$fn("))
  }

  private def local(rs: Seq[Row], sc: StructType): DataFrame =
    spark.createDataFrame(rs.asJava, sc)
  private def scanned(rs: Seq[Row], sc: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), sc)

  /** `body` with whole-stage codegen failures raised, not silently
    * run interpreted. */
  private def strictCodegen[A](body: => A): A = {
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def code(plan: SparkPlan): String = codegenStringSeq(plan).map(_._2).mkString("\n")

  for ((name, c) <- entries) test(s"$name: interpreted rows == generated-code rows") {
    val interpreted = local(rows, schema).select(c.as("r"))
    assert(interpreted.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      s"not folded through eval:\n${interpreted.queryExecution.executedPlan}")
    val generated = scanned(rows, schema).select(c.as("r"))
    val generatedCode = code(generated.queryExecution.executedPlan)
    callsOf(c).foreach(call =>
      assert(call.matcher(generatedCode).find(), s"no $call in generated code"))
    val want = interpreted.collect().toSeq
    val got = strictCodegen(generated.collect().toSeq)
    assert(got == want, s"interpreted $want\ngenerated $got")
    if (neverNull(name)) assert(!want.exists(_.isNullAt(0)), "a null row")
    else assert(want.exists(_.isNullAt(0)), "no null row")
  }

  /** `body` throws an ArithmeticException with `message` and no
    * InvocationTargetException in its cause chain. */
  private def assertArithmetic(message: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(!chain.exists(_.isInstanceOf[java.lang.reflect.InvocationTargetException]), chain)
    assert(chain.exists {
      case ae: ArithmeticException => ae.getMessage == message
      case _ => false
    }, chain)
  }

  test("roundDiv errors surface as ArithmeticException on both paths") {
    val sc = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val div = Kernels.roundDiv(col("a"), col("b"), "floor")
    for ((a, b, msg) <- Seq((5L, 0L, "division by zero"), (Long.MinValue, -1L, "long overflow"));
        frame <- Seq(local _, scanned _))
      assertArithmetic(s"graft_round_div: $msg") {
        strictCodegen(frame(Seq(Row(a, b)), sc).select(div).collect())
      }
  }

  test("a zero divisor in // and % surfaces as ArithmeticException on both paths") {
    for (t <- Seq(LongType, DoubleType); frame <- Seq(local _, scanned _);
        (op, name) <- Seq[((Expression, Expression) => Expression, String)](
          (PyFloorDiv, "graft_py_floordiv"), (PyMod, "graft_py_mod"))) {
      val sc = StructType(Seq(StructField("n", t), StructField("d", t)))
      val row = if (t == LongType) Row(7L, 0L) else Row(7.5, -0.0)
      assertArithmetic(s"$name: division by zero (Python raises ZeroDivisionError)") {
        strictCodegen(frame(Seq(row), sc).select(expr(op(ex("n"), ex("d")))).collect())
      }
    }
  }
}
