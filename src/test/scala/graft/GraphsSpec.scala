package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.operators.{Dedup, Graphs}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.graft.CacheEntries
import org.scalatest.funsuite.AnyFunSuite

/** The description of every Spark job `body` starts (null when unset),
  * and its value. */
object JobLog {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val descs = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    val a = try body finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (a, descs.asScala.toSeq.map(_.orNull))
  }
}

class GraphsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // 1 → 2 → 3 → 4 → 5 chain, plus a shortcut 1 → 4 and an island 9 → 10.
  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (9L, 10L),
  ).toDF("src", "dst")

  test("bfs assigns minimum hop distance (shortcut wins over chain)") {
    val d = Graphs.bfs(edges, Seq(1L).toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
  }

  test("bfs respects the hop bound and excludes unreachable nodes") {
    val d = Graphs.bfs(edges, Seq(1L).toDF("node"), maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    assert(!d.contains(9L) && !d.contains(10L))
  }

  test("bfs from multiple seeds takes the nearest seed's distance") {
    val d = Graphs.bfs(edges, Seq(1L, 9L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d(10L) == 1L && d(3L) == 2L && d(9L) == 0L)
  }

  test("graphProfile: hand-computed triangle+pendant; regular-graph null guard") {
    // K3 on {1,2,3} plus pendant edge (3,4): degrees 2,2,3,1
    // W = 1+1+3+0 = 5, T = 1, C = 3/5
    // directed moments: M=8, Σx=18, Σx²=44, Σxy=38
    //   r = (8·38−18²)/(8·44−18²) = −20/28
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graphs.graphProfile(g).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 4L, 5L, 1L)))
    assert(r.getDouble(4) == 3.0 / 5.0)
    assert(r.getDouble(5) == -20.0 / 28.0)
    // K3 alone: regular graph — assortativity denominator is exactly 0
    // → null (the integer guard); clustering = 3·1/3 = 1
    val k3 = Graphs.graphProfile(
      Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")).collect().head
    assert(k3.getDouble(4) == 1.0 && k3.isNullAt(5))
  }

  test("graphProfile's n_triangles is a third of triangleCounts' corner total") {
    // triangle + pendant + a second triangle sharing node 3, plus the
    // island edge — enough structure that a wrong 3T would shift both
    // n_triangles and clustering
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (9L, 10L)).toDF("src", "dst")
    val tri = Graphs.triangleCounts(g)
    val corners = tri.agg(sum("n_tri")).head().getLong(0)
    val r = Graphs.graphProfile(g).collect().head
    assert(r.getLong(3) == corners / 3 && corners % 3 == 0)
    assert(r.getDouble(4) == corners.toDouble / r.getLong(2))
    // and the per-node counts are the q61 answer
    assert(tri.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  test("graphProfile of any edge form equals the profile of its canonical form") {
    val canonical = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (9L, 10L))
    // both orientations, a duplicate of each, and a self-loop
    val messy = canonical ++ canonical.map(_.swap) ++ canonical.take(3) :+ ((4L, 4L))
    val want = Graphs.graphProfile(canonical.toDF("src", "dst")).collect().head
    assert(Graphs.graphProfile(messy.toDF("src", "dst")).collect().head == want)
    assert((want.getLong(0), want.getLong(1), want.getLong(3)) == ((7L, 7L, 2L)))
  }

  test("pageRank ranks sum to ~1 and sinks hold the base rank") {
    val r = Graphs.pageRank(edges, iters = 3).as[(Long, Double)]
      .collect().toMap
    assert(r.size == 7)
    // dangling mass is dropped (simplified PR), so the total is < 1
    // but every node holds at least the (1-d)/N floor
    val floor = 0.15 / 7
    assert(r.values.forall(_ >= floor - 1e-8)) // 9-dp output rounding
    // node 4 has two in-links (3→4, 1→4), node 2 only one (1→2) of
    // equal source rank/degree — 4 must outrank 2
    assert(r(4L) > r(2L))
    // island source 9 receives nothing: exactly the floor
    assert(math.abs(r(9L) - floor) < 1e-9)
  }

  test("pageRank small (driver-vector) and large (distributed) regimes agree exactly") {
    val small = Graphs.pageRank(edges, iters = 3).as[(Long, Double)]
      .collect().toMap
    val large = Graphs.pageRankDistributed(edges, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(small == large) // bit-identical, not approximately equal
  }

  test("graph operators leave no cache entry behind") {
    val forest = Seq((2L, 1L), (3L, 1L), (4L, 2L)).toDF("node", "parent")
    val values = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("node", "value")
    val triangle = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "bfs" -> (() => Graphs.bfs(edges, Seq(1L).toDF("node"), maxHops = 2)),
      "pageRank" -> (() => Graphs.pageRank(edges, iters = 2)),
      "pageRankDistributed" -> (() => Graphs.pageRankDistributed(edges, iters = 2)),
      "triangleCounts" -> (() => Graphs.triangleCounts(triangle)),
      "graphProfile" -> (() => Graphs.graphProfile(triangle)),
      "subtreeRollup" -> (() => Graphs.subtreeRollup(forest, values, rounds = 2)))
    for ((name, op) <- ops) {
      val before = CacheEntries(spark)
      val df = op()
      assert(df.count() > 0, name)
      val added = CacheEntries(spark).filterNot(e => before.exists(_ eq e))
      assert(added.isEmpty, s"$name left ${added.size} cache entries")
    }
  }

  test("every job a graph operator starts carries a graft label") {
    val forest = Seq((2L, 1L), (3L, 1L), (4L, 2L)).toDF("node", "parent")
    val values = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("node", "value")
    val triangle = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "an unrelated sentence about query planning in spark")).toDF("doc_id", "text")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "bfs" -> (() => Graphs.bfs(edges, Seq(1L).toDF("node"), maxHops = 2)),
      "pageRank" -> (() => Graphs.pageRank(edges, iters = 2)),
      "pageRankDistributed" -> (() => Graphs.pageRankDistributed(edges, iters = 2)),
      "triangleCounts" -> (() => Graphs.triangleCounts(triangle)),
      "graphProfile" -> (() => Graphs.graphProfile(triangle)),
      "subtreeRollup" -> (() => Graphs.subtreeRollup(forest, values, rounds = 2)),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs, "a", "b")),
      "connectedComponentsDistributed" ->
        (() => Dedup.connectedComponentsDistributed(pairs, "a", "b")),
      "dupClusters" -> (() => Dedup.dupClusters(pairs, "a", "b")),
      "minhashPairs" -> (() => Dedup.minhashPairs(docs, "doc_id", "text")))
    // the driver regimes' count and collect jobs, by name
    val expected = Map(
      "bfs" -> Set("bfs/edge-count", "bfs/edges"),
      "triangleCounts" -> Set("triangleCounts/degrees", "triangleCounts/edges"),
      "graphProfile" -> Set("graphProfile/degrees", "graphProfile/edges"),
      "pageRank" -> Set("pageRank/edges"),
      "minhashPairs" -> Set("minhashPairs/docs"))
    for ((name, op) <- ops) {
      val (_, descs) = JobLog(spark)(op())
      val bare = descs.filterNot(d => d != null && d.matches("\\w+/[\\w-]+"))
      assert(bare.isEmpty, s"$name started ${bare.size} of ${descs.size} jobs without a label")
      val missing = expected.getOrElse(name, Set.empty[String]) -- descs
      assert(missing.isEmpty, s"$name started no job labelled ${missing.mkString(", ")}")
    }
  }
}

/** The jobs each graph-family query starts on the test tables, while it
  * is built and while a `noop` write executes it (parquet schema
  * inference included): a change that adds an eager job moves a pin on
  * purpose. */
class GraphJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val pins: Seq[(String, (Int, Int))] = Seq(
    "q52_bfs_reach" -> ((10, 3)),
    "q59_pagerank" -> ((7, 3)),
    "q61_triangles" -> ((9, 3)),
    "q77_graph_profile" -> ((9, 1)),
    "d6_dup_clusters" -> ((2, 5)),
    "d19_quality_survivor" -> ((7, 6)))

  for ((q, (build, exec)) <- pins) test(s"$q starts $build jobs to build and $exec to execute") {
    GraftSession.reset(spark)
    val (df, built) = JobLog(spark)(SparkEntry.queries(q)(spark, sf))
    val (_, ran) = JobLog(spark)(df.write.format("noop").mode("overwrite").save())
    assert((built.size, ran.size) == ((build, exec)))
  }
}
