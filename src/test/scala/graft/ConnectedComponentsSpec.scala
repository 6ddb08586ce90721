package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.CacheEntries
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Duplicate-cluster resolution: connected components over a pair
  * graph (Dedup.connectedComponents) — driver union-find below the
  * pair bound, hash-min + pointer-jump loop above it. */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Reference union-find, driver-side. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("path graph collapses to its min vertex (log-round convergence)") {
    // a 200-vertex path is the worst case for plain propagation
    // (O(diameter) = 200 rounds); pointer jumping must close it well
    // inside the default maxIter = 25 ≈ log2 bound + slack
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L))
  }

  test("disjoint cliques keep distinct min labels") {
    val cl1 = for { i <- 10L to 14L; j <- (i + 1) to 14L } yield (i, j)
    val cl2 = for { i <- 20L to 22L; j <- (i + 1) to 22L } yield (i, j)
    val got = cc(cl1 ++ cl2)
    assert((10L to 14L).forall(got(_) == 10L))
    assert((20L to 22L).forall(got(_) == 20L))
  }

  test("random graphs match driver-side union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 20
      val pairs = Seq.fill(n) {
        val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
      assert(cc(pairs) == unionFind(pairs), s"trial $trial")
    }
  }

  test("empty pair set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").isEmpty)
  }

  test("dupClusters sizes and keep flags") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val got = Dedup.dupClusters(pairs, "a", "b")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, 3L, true), (2L, 1L, 3L, false),
      (3L, 1L, 3L, false), (7L, 7L, 2L, true), (8L, 7L, 2L, false)))
  }

  /** Rows of `df` as value lists, in a fixed order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  /** Both regimes give the same (id, lbl) rows and the same verdicts,
    * whether the driver regime takes the pairs as the local relation
    * they are or settles and collects them as a plan. */
  private def regimesAgree(pairs: DataFrame): Boolean = {
    val loop = Dedup.connectedComponentsDistributed(pairs, "a", "b")
    Seq(pairs, pairs.repartition(2)).forall { p =>
      rows(Dedup.connectedComponents(p, "a", "b")) == rows(loop) &&
        rows(Dedup.dupClusters(p, "a", "b")) == rows(Dedup.clusterVerdict(loop))
    }
  }

  /** Pair lists over a few ids, so self-loops come up often, plus
    * duplicated and reversed copies of some pairs. */
  private val pairLists: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(1L, 30L)
    m <- Gen.choose(1, 40)
    ps <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
    d <- Gen.choose(0, m)
  } yield ps ++ ps.take(d) ++ ps.takeRight(d).map(_.swap)

  test("driver and distributed regimes give identical components and verdicts") {
    assert(regimesAgree(Seq.empty[(Long, Long)].toDF("a", "b")), "empty pair set")
    assert(regimesAgree((0L until 199L).map(i => (i, i + 1)).toDF("a", "b")), "200-vertex path")
    val prop = Prop.forAll(pairLists)(ps => regimesAgree(ps.toDF("a", "b")))
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("an id that casts to null: the driver regime emits the loop's rows") {
    // null joins no component; its row takes the label of its least
    // non-null neighbor (5, whose component's least id is 3)
    val pairs = Seq[(Option[Long], Option[Long])]((None, Some(5L)), (Some(5L), Some(3L)),
      (None, Some(9L)), (Some(7L), None), (None, None), (Some(9L), Some(8L))).toDF("a", "b")
    val want = Seq(Seq(3L, 3L), Seq(5L, 3L), Seq(7L, 7L), Seq(8L, 8L), Seq(9L, 8L), Seq(null, 3L))
    assert(rows(Dedup.connectedComponentsDistributed(pairs, "a", "b")) ==
      want.sortBy(_.mkString(",")))
    assert(regimesAgree(pairs))
  }

  test("a local pair list resolves with no job, a planned one through its labelled collect") {
    val local = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val (cc, descs) = JobLog(spark)(Dedup.connectedComponents(local, "a", "b"))
    assert(descs.isEmpty, descs)
    assert(cc.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val (_, planned) = JobLog(spark)(Dedup.connectedComponents(local.repartition(2), "a", "b"))
    assert(planned.nonEmpty && planned.forall(_ == "connectedComponents/pairs"), planned)
  }

  test("the driver regime leaves no cache entry and no persistent RDD behind") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val entries0 = CacheEntries(spark)
    val cc = Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b"), "a", "b")
    assert(cc.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rdds0)
    assert(CacheEntries(spark).filterNot(e => entries0.exists(_ eq e)).isEmpty)
    assert(rows(cc) == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(7L, 7L), Seq(8L, 7L)))
  }
}
