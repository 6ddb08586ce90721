package graft

import scala.jdk.CollectionConverters._

import graft.expressions.Kernels
import graft.operators.{Quantize, Similarity, VectorOps}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class QuantizeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("int8 quantize/dequantize bounds error by scale/2 per element") {
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.0f))).toDF("id", "v")
      .withColumn("scale", Quantize.int8Scale(col("v")))
      .withColumn("q", Quantize.toInt8(col("v"), col("scale")))
      .withColumn("back", Quantize.fromInt8(col("q"), col("scale")))
    val r = df.select("scale", "q", "back").head()
    val scale = r.getDouble(0)
    assert(math.abs(scale - 1.0 / 127) < 1e-12)
    assert(r.getSeq[Byte](1) == Seq[Byte](127, -64, 32, 0))
    val back = r.getSeq[Double](2)
    Seq(1.0, -0.5, 0.25, 0.0).zip(back).foreach { case (orig, b) =>
      assert(math.abs(orig - b) <= scale / 2 + 1e-12)
    }
  }

  test("quantized cosine tracks exact cosine on real embeddings") {
    val err = llm.LlmQueries.s4QuantCosine(spark, sf)
      .agg(max("abs_err")).head().getDouble(0)
    assert(err < 0.05, s"max quantized-cosine error $err")
  }

  test("zero vector quantizes without dividing by zero") {
    val df = Seq((1L, Array(0.0f, 0.0f))).toDF("id", "v")
      .withColumn("scale", Quantize.int8Scale(col("v")))
      .withColumn("q", Quantize.toInt8(col("v"), col("scale")))
    assert(df.select("q").head().getSeq[Byte](0) == Seq[Byte](0, 0))
  }
}

class IvfSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("IVF probes fewer vectors than brute force but recalls overlap") {
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteTopK(emb, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    // the sampled quantizer yields genuine top-k candidates with pruning
    val ivf = Similarity.ivfTopK(emb, queries, 10, nCells = 16, nProbe = 4)
    val got = ivf.select("qid", "id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got.intersect(brute).nonEmpty)
    // pruning actually happened: scored candidates < corpus per query
    assert(got.size <= 30)
  }

  /** The reference IVF assignment: array_min over
    * struct(ip(c,c) − 2·ip(v,c), cid) with plan-literal centroids
    * (lexicographic, so ties go to the smaller cid), ip(c,c) summed
    * left-to-right. A null vector gets no cell (array_min alone would
    * give it the smallest cid). */
  private def structMinCell(cents: Array[(Long, Array[Double])]): Column =
    when(col("v").isNotNull, array_min(array(cents.map { case (cid, cv) =>
      struct(
        (lit(cv.foldLeft(0.0)((s, x) => s + x * x)) -
          VectorOps.dot(col("v"), array(cv.map(lit(_)): _*)) * 2.0).as("d"),
        lit(cid).as("cid"))
    }: _*)).getField("cid"))

  test("sampled IVF cells equal the struct-min reference at 16 and 256 cells") {
    val emb = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    // the null-vector row's id sorts after every corpus id in md5 order,
    // so it is assigned, never sampled as a centroid
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5Hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val nullId = Iterator.from(1000000).find(i => md5Hex(i.toString).startsWith("ff")).get
    val corpus = emb.union(emb.limit(1).select(lit(nullId.toLong).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding")))
    for (n <- Seq(16, 256)) {
      val (cents, cells) = Similarity.ivfSampledIndex(corpus, nCells = n)
      val picked = corpus.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(n).select(col("vec_id").cast("long")).as[Long].collect().toSeq
      assert(cents.map(_._1).toSeq == picked, s"$n cells: centroid pick")
      val got = cells.select(col("id").cast("long"), col("cell"),
          structMinCell(cents).as("want"))
        .as[(Long, Option[Long], Option[Long])].collect()
      assert(got.length == corpus.count(), s"$n cells")
      assert(got.filter(_._1 == nullId).toSeq == Seq((nullId.toLong, None, None)), s"$n cells")
      val wrong = got.filter(r => r._2 != r._3)
      assert(wrong.isEmpty, s"$n cells: ${wrong.take(5).toSeq}")
      assert(got.flatMap(_._2).distinct.length > 1, s"$n cells: one cell")
    }
  }

  test("sampled IVF cells equal the struct-min reference on a non-unit-norm corpus") {
    // the sf0.001 embeddings are all unit-norm, so ip(c,c) is nearly
    // the same for every centroid and a kernel that dropped it would
    // still pass above. Here norms span 0.1–10: a pure dot-product
    // argmin favours long centroids and moves cells.
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 400).map { i =>
      val scale = 0.1 + 9.9 * rnd.nextDouble()
      (i.toLong, Array.fill(6)((rnd.nextGaussian() * scale).toFloat))
    }.toDF("vec_id", "embedding")
    val (cents, cells) = Similarity.ivfSampledIndex(corpus, nCells = 16)
    val dotOnly = array_min(array(cents.map { case (cid, cv) =>
      struct((VectorOps.dot(col("v"), array(cv.map(lit(_)): _*)) * -2.0).as("d"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")
    val got = cells.select(col("id"), col("cell"), structMinCell(cents).as("want"),
        dotOnly.as("dot_only"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 400)
    val wrong = got.filter(r => r._2 != r._3)
    assert(wrong.isEmpty, s"${wrong.take(5).toSeq}")
    // the corpus discriminates: dropping ip(c,c) would move cells
    assert(got.count(r => r._3 != r._4) > 40)
  }

  test("sampled-centroid assignment ties break to the smaller cell id") {
    // (1, 1) is equally near e1 (cid 7, listed first) and e2 (cid 3):
    // euclidean rank 1 − 2·1 and cosine 1/√2 for both. (2, 0) is
    // nearer e1 under both ranks.
    val cents = Array((7L, Array(1.0, 0.0)), (3L, Array(0.0, 1.0)))
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = false))))
    val rows = Seq(Row(Seq(1.0, 1.0)), Row(Seq(2.0, 0.0)))
    val kernels = Seq(
      "euclid" -> Kernels.nearestCentroid(col("v"), cents),
      "cosine" -> Kernels.nearestCentroidCosine(col("v"), VectorOps.norm(col("v")), cents))
    for ((name, nearest) <- kernels) {
      val interpreted = spark.createDataFrame(rows.asJava, schema)
        .select(element_at(nearest, 2))
      assert(interpreted.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], name)
      val generated = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .select(element_at(nearest, 2))
      assert(generated.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined, name)
      for (df <- Seq(interpreted, generated))
        assert(df.as[Double].collect().toSeq == Seq(3.0, 7.0), name)
    }
  }
}

class PqSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("PQ ADC carries signal: recall beats the random-candidate baseline") {
    // this corpus is near-uniform random noise — the adversarial case
    // for a 16-codeword untrained codebook, where true top-10 cosines
    // sit barely above background. The honest claim is that the ADC
    // candidate stage is much better than picking candidates at
    // random, not that it solves noise retrieval.
    val emb = Tables.t(spark, sf, "embeddings").cache()
    val n = emb.count().toDouble
    val queries = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteTopK(emb, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(pq.size == brute.size)
    val recall = pq.intersect(brute).size.toDouble / brute.size
    val randomBaseline = 40.0 / n // P(true neighbor in 40 random candidates)
    assert(recall > 2 * randomBaseline,
      s"PQ recall $recall vs random-candidate baseline $randomBaseline")
  }

  test("PQ finds planted near-duplicates at rank 1") {
    // the dedup-grade regime PQ is deployed for: a near-identical copy
    // (cos ≈ 0.99 vs a ≤0.5 background) must dominate ADC scoring,
    // survive the candidate cut, and re-rank to the top
    val base = Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val planted = base.filter($"vec_id" < 3)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", x => x * 0.98 + 0.02).as("embedding"))
    val corpus = base.union(planted)
    val queries = planted
    val top1 = Similarity.pqTopK(corpus, queries, k = 5)
      .filter($"rk" === 1).select("qid", "id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(i => assert(top1(i + 1000000L) == i))
  }

  test("PQ run is deterministic across invocations") {
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" < 2)
    val a = Similarity.pqTopK(emb, q, 5).collect().toSeq
    val b = Similarity.pqTopK(emb, q, 5).collect().toSeq
    assert(a == b)
  }

  test("rerank=∞ degenerate: PQ with all candidates equals brute force") {
    // with rerank·k >= corpus size the candidate stage passes everything
    // through and the exact re-rank must reproduce brute force verbatim
    val emb = Tables.t(spark, sf, "embeddings").limit(120).cache()
    val q = emb.filter($"vec_id" < 2)
    val brute = Similarity.bruteTopK(emb, q, 8)
      .select("qid", "id", "rk").as[(Long, Long, Int)].collect().toSet
    val pq = Similarity.pqTopK(emb, q, 8, rerank = 1000)
      .select("qid", "id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(pq == brute)
  }
}
