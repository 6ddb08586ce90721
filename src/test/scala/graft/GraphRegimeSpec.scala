package graft

import graft.operators.Graphs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.CacheEntries
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** BFS and the triangle chain (triangleCounts, graphProfile) on small
  * graphs: the driver regime gives the rows of the distributed loops,
  * which tests reach through their `private[graft]` seams. */
class GraphRegimeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Rows of `df` as value lists, in a fixed order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.schema == b.schema && rows(a) == rows(b)

  /** Both regimes of all three operators agree on `edges` and `seeds`. */
  private def regimesAgree(edges: DataFrame, seeds: DataFrame, maxHops: Int): Boolean =
    same(Graphs.bfs(edges, seeds, maxHops), Graphs.bfsDistributed(edges, seeds, maxHops)) &&
      same(Graphs.triangleCounts(edges), Graphs.triangleCountsDistributed(edges)) &&
      same(Graphs.graphProfile(edges), Graphs.graphProfileDistributed(edges))

  /** Edge lists over at most 41 ids, so self-loops come up often, plus
    * duplicated and reversed copies of some edges; seeds run past the
    * largest id, so some lie outside the graph. */
  private val graphs: Gen[(Seq[(Long, Long)], Seq[Long], Int)] = for {
    n <- Gen.choose(1L, 40L)
    m <- Gen.choose(0, 60)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
    d <- Gen.choose(0, m)
    seeds <- Gen.listOfN(3, Gen.choose(0L, n + 5))
    hops <- Gen.choose(0, 4)
  } yield (es ++ es.take(d) ++ es.takeRight(d).map(_.swap), seeds, hops)

  test("driver and distributed regimes give identical bfs, triangleCounts and graphProfile rows") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(regimesAgree(none, Seq(1L, 2L).toDF("node"), 3), "empty edge list")
    val prop = Prop.forAll(graphs) { case (es, seeds, hops) =>
      regimesAgree(es.toDF("src", "dst"), seeds.toDF("node"), hops)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("string ids: the driver regime follows Spark's order of strings") {
    // UTF-16 (Scala's String order) puts the surrogate pair of U+1F600
    // before U+FFFD; Spark compares UTF-8 bytes and puts it after
    val (hi, lo) = ("\uD83D\uDE00", "\uFFFD")
    val es = Seq((hi, lo), (lo, "a"), ("a", hi), (hi, "b"), ("b", lo), ("b", "a"),
      ("c", hi), (lo, lo), ("a", hi))
    val edges = es.toDF("src", "dst")
    assert(regimesAgree(edges, Seq("c", "z").toDF("node"), 2))
    assert(Graphs.triangleCounts(edges).as[(String, Long)].collect().toMap ==
      Map(hi -> 3L, lo -> 3L, "a" -> 3L, "b" -> 3L))
  }

  test("null ids: both regimes give the loops' rows") {
    val es = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), None),
      (None, Some(3L)), (Some(1L), Some(3L)), (Some(2L), Some(3L)), (None, None),
      (Some(3L), None), (Some(4L), Some(1L)))
    val edges = es.toDF("src", "dst")
    val seeds = Seq[Option[Long]](Some(1L), None).toDF("node")
    // a null seed keeps its row; a null dst, which no anti-join
    // matches, comes back on every hop that reaches it
    val wantBfs = Seq(Seq(1L, 0L), Seq(null, 0L), Seq(2L, 1L), Seq(3L, 1L),
      Seq(null, 2L)).sortBy(_.mkString(","))
    assert(rows(Graphs.bfsDistributed(edges, seeds, 3)) == wantBfs)
    // an edge with one null end is a self-loop once least/greatest
    // skip the null, and (null, null) fails a =!= b: both drop out
    assert(rows(Graphs.triangleCountsDistributed(edges)) ==
      Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)))
    assert(Graphs.graphProfileDistributed(edges).head().toSeq.take(4) == Seq(4L, 4L, 5L, 1L))
    assert(regimesAgree(edges, seeds, 3))
  }

  test("the driver regime returns local relations and leaves no cache entry or persistent RDD") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val entries0 = CacheEntries(spark)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Seq(
      Graphs.bfs(edges, Seq(1L).toDF("node"), 2),
      Graphs.triangleCounts(edges),
      Graphs.graphProfile(edges))
    for (df <- out) {
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], df.queryExecution.optimizedPlan)
      assert(df.count() > 0)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rdds0)
    assert(CacheEntries(spark).filterNot(e => entries0.exists(_ eq e)).isEmpty)
  }
}
