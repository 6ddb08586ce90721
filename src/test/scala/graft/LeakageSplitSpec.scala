package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** p7 leakage-free split: driver-side replay of the whole composition
  * (Hamilton allocation in exact integers, md5-order test prefix,
  * boundary quarantine against the d2 pair relation) compared
  * stratum-for-stratum including the quarantine fingerprints. The pair
  * relation itself is taken from Dedup.minhashPairs — its equality to
  * brute-force all-pairs Jaccard is certified separately by d2's
  * oracle row — so this spec pins the COMPOSITION, not the LSH. */
class LeakageSplitSpec extends AnyFunSuite {
  import TestSpark._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("p7 == driver-side Hamilton + prefix + quarantine replay") {
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"))
      .union(docs.select(col("doc_id") + 1000000L,
        concat(col("text"), lit(" zz qq")), col("lang"), col("source")))
    val rows = corpus.select("doc_id", "lang", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val strata = rows.groupBy(r => (r._2, r._3)).view.mapValues(_.length).toMap
    val nn = rows.length.toLong
    val k = nn / 10
    val base = strata.view.mapValues(n => n.toLong * k / nn).toMap
    val rem = strata.map { case (st, n) => st -> (n.toLong * k % nn) }
    val ranked = rem.toSeq.sortBy { case ((l, src), r) => (-r, l, src) }
      .map(_._1).zipWithIndex.toMap // rk-1
    val lo = k - base.values.sum
    val allocated = strata.map { case (st, n) =>
      st -> math.min(n.toLong, base(st) + (if (ranked(st) < lo) 1L else 0L))
    }
    val testIds = rows.groupBy(r => (r._2, r._3)).toSeq.flatMap {
      case (st, rs) =>
        rs.map(_._1).sortBy(id => (md5hex(id.toString), id))
          .take(allocated(st).toInt).toSeq
    }.toSet
    val pairs = operators.Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val quarantined = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }.collect { case (t0, o) if testIds(t0) && !testIds(o) => o }.toSet
    val expected = rows.groupBy(r => (r._2, r._3)).map { case (st, rs) =>
      val q = rs.map(_._1).filter(quarantined).sorted
      st -> (allocated(st), q.length.toLong,
        md5hex(q.mkString(",")))
    }

    val got = llm.LlmQueries.p7LeakageFreeSplit(spark, sf).collect()
    assert(got.length == strata.size)
    var anyQ = 0L
    got.foreach { r =>
      val st = (r.getString(0), r.getString(1))
      val (alloc, nq, qmd5) = expected(st)
      assert(r.getLong(2) == strata(st).toLong, s"n_docs @ $st")
      assert(r.getLong(3) == alloc, s"n_test @ $st")
      assert(r.getLong(4) == strata(st) - alloc, s"n_train @ $st")
      assert(r.getLong(5) == nq, s"n_quarantined @ $st")
      assert(r.getLong(6) == strata(st) - alloc - nq, s"n_kept @ $st")
      assert(r.getString(7) == qmd5, s"quarantine_md5 @ $st")
      anyQ += nq
    }
    // the guard must bite: at least one cross-boundary near-dup exists
    // (each original and its +1e6 near-copy share a stratum; a 10%
    // hold-out splits some of those pairs at every SF)
    assert(anyQ > 0, "no quarantined docs — split never crossed a dup pair")
    // total test size is exactly k (Hamilton sums to k when k <= N)
    assert(got.map(_.getLong(3)).sum == k)
  }
}
