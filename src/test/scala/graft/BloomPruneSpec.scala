package graft

import graft.expressions.Kernels
import graft.operators.BloomPrune
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-pruned join semantics: the prune must be invisible to results
  * (no false negatives ever; false positives removed by the exact
  * join) while actually cutting the rows that reach the join. */
class BloomPruneSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val fact = (0L until 10000L).map(i => (i, i % 100)).toDF("k", "payload")
  private lazy val dim = (0L until 100L).map(i => i * 37).toDF("dk") // sparse keys

  test("pruned semi-join equals the plain semi-join, even at fpp = 0.5") {
    val plain = fact.join(dim, col("k") === col("dk"), "left_semi")
      .select("k").as[Long].collect().sorted.toSeq
    for (fpp <- Seq(0.01, 0.5)) {
      val pruned = BloomPrune.semiJoinPruned(fact, dim, "k", "dk",
          expectedItems = 100L, fpp = fpp)
        .select("k").as[Long].collect().sorted.toSeq
      assert(pruned == plain, s"fpp=$fpp changed the result")
    }
  }

  test("the probe prunes: far fewer fact rows survive than exist") {
    val bloom = BloomPrune.buildLongBloom(dim, "dk", expectedItems = 100L)
    val survivors = fact.filter(Kernels.bloomMightContain(bloom, col("k"))).count()
    val trueMatches = fact.join(dim, col("k") === col("dk"), "left_semi").count()
    assert(survivors >= trueMatches, "a bloom can never lose a true match")
    assert(survivors < 10000L / 4,
      s"bloom pruned almost nothing: $survivors of 10000 survive")
  }

  test("null probe keys are dropped, matching join semantics") {
    val f2 = fact.select(when(col("k") === 0L, lit(null)).otherwise(col("k")).as("k"))
    val bloom = BloomPrune.buildLongBloom(dim, "dk", expectedItems = 100L)
    val kept = f2.filter(Kernels.bloomMightContain(bloom, col("k")))
      .select("k").as[Long].collect()
    assert(!kept.contains(0L), "null key leaked through the probe")
    assert(kept.contains(37L), "true match lost")
  }
}
