package graft

import scala.jdk.CollectionConverters._

import graft.expressions.{HllSketch, KmvBuffer, KmvSketch, Kernels}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every [[Kernels]] constructor gives the same rows on both of
  * `StaticInvoke`'s evaluation paths: a local relation, where the
  * optimizer folds the projection through the interpreted `eval`
  * (reflection), and an RDD scan, where it runs as generated code.
  * The input holds a null row and rows on which the null-returning
  * kernels return null. */
class KernelsSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("a", LongType), StructField("b", LongType),
    StructField("la", ArrayType(LongType, containsNull = false)),
    StructField("lb", ArrayType(LongType, containsNull = false)),
    StructField("toks", ArrayType(StringType)),
    StructField("hll1", BinaryType), StructField("hll2", BinaryType),
    StructField("kmv1", BinaryType), StructField("kmv2", BinaryType)))

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
      hll("a", "b", "c"), hll("c", "d"), kmv(1L to 10L: _*), kmv(5L to 20L: _*)),
    Row("The  cat sat ON the mat;  Café naïve 1:30 the cat sat", -17L, -5L,
      Seq.empty[Long], Seq(2L), Seq("a", null), hll(), hll("x"), kmv(), kmv(1L)),
    Row("(1.5-2j)", Long.MinValue, 7L, Seq(-4L, 0L, 9L), Seq(-4L, 9L), Seq.empty[String],
      hll("only"), hll("only"), kmv(3L), kmv(3L, 4L)),
    Row("abc", Long.MaxValue, -3L, Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue),
      Seq("Der", "die", "und"), hll("p", "q"), hll(), kmv(1L, 2L), kmv(2L, 3L)),
    Row("中文字符 2021-01-01 10:00", 0L, 1L, Seq(1L), Seq.empty[Long],
      Seq("x"), hll("k"), hll("k", "l"), kmv(7L), kmv(8L)),
    Row(null, null, null, null, null, null, null, null, null, null))

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
      "thetaIntersect" -> Kernels.thetaIntersect(col("kmv1"), col("kmv2")))
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
    val calls = ColumnBridge.expression(c).collect {
      case si: StaticInvoke => s"${si.objectName}.${si.functionName}("
    }
    val generatedCode = code(generated.queryExecution.executedPlan)
    calls.foreach(call => assert(generatedCode.contains(call), s"no $call in generated code"))
    val want = interpreted.collect().toSeq
    val got = strictCodegen(generated.collect().toSeq)
    assert(got == want, s"interpreted $want\ngenerated $got")
    assert(want.exists(_.isNullAt(0)), "no null row")
  }

  test("roundDiv errors surface as ArithmeticException on both paths") {
    val sc = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val div = Kernels.roundDiv(col("a"), col("b"), "floor")
    for ((a, b, msg) <- Seq((5L, 0L, "division by zero"), (Long.MinValue, -1L, "long overflow"));
        frame <- Seq(local _, scanned _)) {
      val e = intercept[Exception](strictCodegen(frame(Seq(Row(a, b)), sc).select(div).collect()))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(_.isInstanceOf[java.lang.reflect.InvocationTargetException]), chain)
      assert(chain.exists {
        case ae: ArithmeticException => ae.getMessage == s"graft_round_div: $msg"
        case _ => false
      }, chain)
    }
  }
}
