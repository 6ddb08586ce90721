package graft

import graft.operators.Graphs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.CacheEntries
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** BFS, pageRank and the triangle chain (triangleCounts, graphProfile)
  * on small graphs: the driver regime gives the rows of the Spark loops,
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
    // a null seed keeps its row, and the null node, visited at hop 0,
    // gets no later row from the null dsts hop 2 reaches
    val wantBfs = Seq(Seq(1L, 0L), Seq(null, 0L), Seq(2L, 1L), Seq(3L, 1L))
      .sortBy(_.mkString(","))
    assert(rows(Graphs.bfsDistributed(edges, seeds, 3)) == wantBfs)
    // without a null seed, the null node gets the row of the first hop
    // that reaches it (2), and only that one
    val fromOne = Seq(1L).toDF("node")
    assert(rows(Graphs.bfsDistributed(edges, fromOne, 3)) ==
      Seq(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 1L), Seq(null, 2L)).sortBy(_.mkString(",")))
    assert(regimesAgree(edges, fromOne, 3))
    // an edge with one null end is a self-loop once least/greatest
    // skip the null, and (null, null) fails a =!= b: both drop out
    assert(rows(Graphs.triangleCountsDistributed(edges)) ==
      Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)))
    assert(Graphs.graphProfileDistributed(edges).head().toSeq.take(4) == Seq(4L, 4L, 5L, 1L))
    assert(regimesAgree(edges, seeds, 3))
  }

  /** pageRank's driver regime, its driver-vector loop and its
    * distributed loop give identical rows on `edges`. */
  private def pageRanksAgree(edges: DataFrame, iters: Int, damping: Double = 0.85): Boolean = {
    val driver = Graphs.pageRank(edges, iters, damping)
    same(driver, Graphs.pageRankDriverVector(edges, iters, damping)) &&
      same(driver, Graphs.pageRankDistributed(edges, iters, damping))
  }

  /** Edge lists over `id`s with about one null end in ten, plus
    * duplicated copies of some edges; small id ranges give self-loops
    * and sinks. */
  private def edgeLists[A](id: Gen[A]): Gen[Seq[(Option[A], Option[A])]] = {
    val end = Gen.frequency(9 -> id.map(Option(_)), 1 -> Gen.const(Option.empty[A]))
    for {
      m <- Gen.choose(0, 40)
      es <- Gen.listOfN(m, Gen.zip(end, end))
      d <- Gen.choose(0, m)
    } yield es ++ es.take(d)
  }

  test("pageRank: the driver, driver-vector and distributed regimes give identical rows") {
    val longs = Prop.forAll(edgeLists(Gen.choose(0L, 12L)), Gen.choose(0, 3)) { (es, iters) =>
      pageRanksAgree(es.toDF("src", "dst"), iters)
    }
    val strings = Prop.forAll(edgeLists(Gen.oneOf("a", "b", "c", "\uFFFD", "\uD83D\uDE00")),
        Gen.choose(1, 3)) { (es, iters) =>
      pageRanksAgree(es.toDF("src", "dst"), iters)
    }
    for (prop <- Seq(longs, strings)) {
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
      assert(res.passed, res.status.toString)
    }
  }

  test("pageRank: half-way 9-dp contributions round HALF_UP in every regime") {
    // 4 nodes, so the first round's rank is 0.25; node 1's 256 out-edges
    // make its contribution 0.25 / 256 = 0.0009765625, a half-way tie
    // at 9 decimals (HALF_UP 0.000976563, HALF_EVEN 0.000976562); of 8
    // nodes, 1 and 3 have out-degree 128 and tie likewise (0.125 / 128)
    val four = Seq.fill(256)((1L, 2L)) ++ Seq((2L, 3L), (3L, 4L), (4L, 1L))
    assert(pageRanksAgree(four.toDF("src", "dst"), 1))
    assert(pageRanksAgree(four.toDF("src", "dst"), 3))
    val eight = Seq.fill(128)((1L, 2L)) ++ Seq.fill(127)((3L, 2L)) ++
      (2L to 7L).map(v => (v, v + 1))
    assert(pageRanksAgree(eight.toDF("src", "dst"), 2))
    assert(pageRanksAgree(eight.toDF("src", "dst"), 2, damping = 0.5))
    val r1 = Graphs.pageRank(four.toDF("src", "dst"), 1).as[(Long, Double)].collect().toMap
    // 0.0375 + 0.85 · 256 · 0.000976563 = 0.2500001088 (HALF_EVEN
    // contributions would give 0.2499998912)
    assert(r1(2L) == 0.250000109)
  }

  test("pageRank: a null node joins nothing and holds the base rank in every regime") {
    val es = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(1L), None),
      (Some(2L), Some(1L)), (None, Some(2L))).toDF("src", "dst")
    for (pr <- Seq(Graphs.pageRank _, Graphs.pageRankDriverVector _, Graphs.pageRankDistributed _)) {
      val ranks = pr(es, 2, 0.85).as[(Option[Long], Double)].collect().toMap
      assert(ranks(None) == 0.05, ranks) // (1 - 0.85) / 3 nodes
    }
    assert(pageRanksAgree(es, 2))
  }

  test("the driver regime returns local relations and leaves no cache entry or persistent RDD") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val entries0 = CacheEntries(spark)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Seq(
      Graphs.bfs(edges, Seq(1L).toDF("node"), 2),
      Graphs.triangleCounts(edges),
      Graphs.graphProfile(edges),
      Graphs.pageRank(edges, 3))
    for (df <- out) {
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], df.queryExecution.optimizedPlan)
      assert(df.count() > 0)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rdds0)
    assert(CacheEntries(spark).filterNot(e => entries0.exists(_ eq e)).isEmpty)
  }
}
