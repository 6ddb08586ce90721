package graft

import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** [[operators.Sampling.hamiltonAllocation]] on random strata tables:
  * the largest-remainder guarantees, checked in exact integers. */
class HamiltonAllocationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Distinct (lang, source) keys with small sizes, so remainders tie
    * often, and a draw count 0 ≤ k ≤ N. */
  private val cases: Gen[(Seq[(String, String, Long)], Long)] = for {
    m <- Gen.choose(1, 9)
    keys <- Gen.pick(m, for (l <- Seq("de", "en", "fr"); s <- Seq("a", "b", "c")) yield (l, s))
    sizes <- Gen.listOfN(m, Gen.choose(1L, 6L))
    k <- Gen.choose(0L, sizes.sum)
  } yield (keys.toSeq.sorted.zip(sizes).map { case ((l, s), n) => (l, s, n) }, k)

  test("allocations sum to k, sit within 1 of n·k/N, and break remainder ties by key") {
    val prop = Prop.forAll(cases) { case (strata, k) =>
      val nn = strata.map(_._3).sum
      val got = operators.Sampling.hamiltonAllocation(
          strata.toDF("lang", "source", "n_docs"), lit(k), "lang", "source")
        .as[(String, String, Long, Long)].collect()
        .map { case (l, s, n, a) => (l, s) -> (n, a) }.toMap
      // the +1 goes to the first k − Σ⌊n·k/N⌋ strata by (rem desc, keys)
      val lo = k - strata.map(st => st._3 * k / nn).sum
      val plus = strata.sortBy { case (l, s, n) => (-(n * k % nn), l, s) }
        .take(lo.toInt).map(st => (st._1, st._2)).toSet
      got.size == strata.size &&
        got.values.map(_._2).sum == k &&
        strata.forall { case (l, s, n) =>
          val a = got((l, s))._2
          math.abs(a * nn - n * k) < nn &&
            a == n * k / nn + (if (plus((l, s))) 1 else 0)
        }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}
