package graft

import scala.util.Try
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.CacheEntries
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** minhashPairs on small corpora: the driver regime gives the rows of
  * the distributed regime, which tests reach through the
  * `private[graft]` seam `Dedup.minhashPairsDistributed`, and so do the
  * dupClusters built on either. */
class MinhashRegimeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Rows of `df` as value lists, in a fixed order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  /** The pairs' schema and rows, then the rows of their dupClusters; a
    * failure's class when either throws. */
  private def outcome(pairs: => DataFrame): Either[String, Any] =
    Try {
      val p = pairs
      (p.schema, rows(p), rows(Dedup.dupClusters(p, "id_a", "id_b")))
    }.toEither.left.map(_.getClass.getName)

  private def regimesAgree(docs: DataFrame, threshold: Double): Boolean =
    outcome(Dedup.minhashPairs(docs, "doc_id", "text", threshold)) ==
      outcome(Dedup.minhashPairsDistributed(docs, "doc_id", "text", threshold))

  /** Up to 7 words of a small vocabulary (so texts shorter than the
    * 3-word shingle and empty texts come up), case and spacing varied
    * for the normalizer. */
  private val texts: Gen[String] = for {
    n <- Gen.choose(0, 7)
    ws <- Gen.listOfN(n, Gen.oneOf("the", "cat", "sat", "on", "a", "mat", "The", "MAT"))
    sep <- Gen.oneOf(" ", "  ", "\t")
  } yield ws.mkString(sep)

  /** Corpora of base texts (about one null in nine) plus copies of some:
    * a trailing space keeps a copy exact, an appended word makes it
    * near. One in four corpora has a null id or a repeated id. */
  private val corpora: Gen[Seq[(Option[Long], Option[String])]] = for {
    n <- Gen.choose(1, 20)
    base <- Gen.listOfN(n, Gen.frequency(8 -> texts.map(Option(_)), 1 -> Gen.const(None)))
    k <- Gen.choose(0, n)
    tails <- Gen.listOfN(k, Gen.oneOf(" ", " cat", " dog"))
    bad <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2)
  } yield {
    val docs = base ++ base.take(k).zip(tails).map { case (t, tail) => t.map(_ + tail) }
    val ids = docs.indices.map(i => Option(i * 7L % 101))
    val withBad = bad match {
      case 1 => ids.updated(0, None)
      case 2 => ids.updated(0, ids.last)
      case _ => ids
    }
    withBad.zip(docs)
  }

  test("driver and distributed regimes give identical minhashPairs and dupClusters rows") {
    val prop = Prop.forAll(corpora, Gen.oneOf(0.0, 0.5, 1.0)) { (docs, threshold) =>
      regimesAgree(docs.toDF("doc_id", "text"), threshold)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("null and repeated ids: the driver regime declines, so both regimes run one path") {
    val texts = Seq("the cat sat on the mat", "the cat sat on the mat today", "a dog")
    val nullId = Seq[(Option[Long], String)]((Some(1L), texts(0)), (None, texts(1)),
      (Some(3L), texts(2))).toDF("doc_id", "text")
    val repeated = Seq((1L, texts(0)), (1L, texts(1)), (3L, texts(2))).toDF("doc_id", "text")
    // the null id fails the distributed pair builder's typed rows, so
    // both regimes throw there: the outcome compared is the failure
    for (docs <- Seq(nullId, repeated); threshold <- Seq(0.0, 0.5)) {
      val (pairs, descs) = JobLog(spark)(Try(Dedup.minhashPairs(docs, "doc_id", "text", threshold)))
      assert(descs.contains("minhashPairs/verify"), descs)
      assert(pairs.map(!_.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]).getOrElse(true))
      assert(regimesAgree(docs, threshold))
    }
  }

  test("the driver regime runs one job, returns a local relation and leaves no cache entry or persistent RDD") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val entries0 = CacheEntries(spark)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "an unrelated sentence about query planning")).toDF("doc_id", "text")
    val ((pairs, clusters), descs) = JobLog(spark) {
      val p = Dedup.minhashPairs(docs, "doc_id", "text")
      (p, Dedup.dupClusters(p, "id_a", "id_b"))
    }
    assert(descs == Seq("minhashPairs/docs"))
    assert(pairs.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(rows(pairs).map(_.take(2)) == Seq(Seq(1L, 2L)))
    assert(rows(clusters) == Seq(Seq(1L, 1L, 2L, true), Seq(2L, 1L, 2L, false)))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rdds0)
    assert(CacheEntries(spark).filterNot(e => entries0.exists(_ eq e)).isEmpty)
  }
}
