package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-bucket guard: a degenerate band key (mass-identical docs → one
  * giant LSH bucket) must neither lose pairs nor concentrate quadratic
  * pair enumeration on a single task. */
class DedupSkewSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val cliqueText = "all work and no play makes jack a dull boy " * 3

  test("minhash salted pairs equal unsalted on a degenerate clique") {
    // 300 byte-identical docs: every band bucket is one 300-doc clique
    val docs = (0L until 300L).map(i => (i, cliqueText)).toDF("doc_id", "text")
    val salted = Dedup.minhashPairs(docs, "doc_id", "text", 0.5,
        cap = 16, maxSalt = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted.size == 300 * 299 / 2)
    val unsalted = Dedup.minhashPairs(docs, "doc_id", "text", 0.5,
        cap = Int.MaxValue, maxSalt = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted == unsalted)
  }

  test("simhash salted pairs equal unsalted on a degenerate clique") {
    val docs = (0L until 200L).map(i => (i, cliqueText)).toDF("doc_id", "text")
    val salted = Dedup.simhashPairs(docs, "doc_id", "text", 3,
        cap = 16, maxSalt = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted.size == 200 * 199 / 2)
    val unsalted = Dedup.simhashPairs(docs, "doc_id", "text", 3,
        cap = Int.MaxValue, maxSalt = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted == unsalted)
  }

  test("salting bounds per-task group size on a 10k-id bucket") {
    // one 10k-id bucket at cap=100, maxSalt=8 → nsalt=8: diagonal
    // groups ≈ B/8 = 1250 rows, cross groups ≈ 2B/8 = 2500 — vs the
    // unsalted single 10k group whose task enumerates 50M pairs
    val exploded = (0L until 10000L).map(i => (i, 0, 0L)).toDF("id", "band", "key")
    val sizes = Dedup.saltBuckets(exploded, cap = 100, maxSalt = 8)
      .groupBy("band", "key", "gi", "gj").count()
      .select("count").as[Long].collect()
    assert(sizes.length == 8 * 9 / 2, s"expected 36 salted groups, got ${sizes.length}")
    assert(sizes.max <= 3000, s"largest salted group ${sizes.max}")
  }

  test("edit-distance salted pairs equal unsalted on a mass-identical name set") {
    // 150 identical names + 30 distinct near-variants: the identical
    // set is ONE variant bucket (the d14 straggler shape); salted and
    // unsalted must agree exactly, and every ham<=1 pair must be found
    val docs = ((0L until 150L).map(i => (i, "supplier#000000042")) ++
      Seq((200L, "supplier#000000043"), (201L, "supplier#00000004"),
        (202L, "supplier#0000000421"), (203L, "zupplier#000000042")))
      .toDF("id", "nm")
    val salted = Dedup.editDistancePairs(docs, "id", "nm",
        cap = 16, maxSalt = 8)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    val unsalted = Dedup.editDistancePairs(docs, "id", "nm",
        cap = Int.MaxValue, maxSalt = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(salted == unsalted)
    // the clique: C(150,2) dist-0 pairs, plus each variant pairs with
    // all 150 originals at dist 1 (substitute / delete / insert), plus
    // variant-variant pairs where applicable
    val clique = salted.filter { case (a, b, d) => a < 150 && b < 150 && d == 0 }
    assert(clique.size == 150 * 149 / 2)
    Seq(200L, 201L, 202L, 203L).foreach { v =>
      assert(salted.count { case (a, b, _) => b == v && a < 150 } == 150,
        s"variant $v must pair with every original")
    }
  }

  test("healthy buckets pay zero replication (nsalt = 1)") {
    val exploded = (0L until 50L).map(i => (i, 0, i % 10)).toDF("id", "band", "key")
    val out = Dedup.saltBuckets(exploded, cap = 100, maxSalt = 8)
    assert(out.count() == 50)
    assert(out.agg(max("gi"), max("gj")).head().toSeq == Seq(0, 0))
  }
}
