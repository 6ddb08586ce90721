package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType, DecimalType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType,
  TimestampType}
import graft.Settle

/** Iterative graph traversal over edge DataFrames.
  *
  * Reference scope note: the reference library has no graph surface;
  * this is part of the large-scale-pipeline extension mandated by the
  * north star (lineage walks, link graphs, co-occurrence expansion).
  */
object Graphs {

  /** The most rows a graph loop holds on the driver: the node bound of
    * [[pageRank]]'s driver rank vector, the pair bound of
    * [[Dedup.connectedComponents]]' driver union-find and the bound on
    * the bucket pairs [[Dedup.minhashPairs]]' driver regime enumerates.
    * Past it, each runs its distributed loop. */
  private[operators] val DriverRows = 5000000

  /** The most edge rows [[bfs]], [[pageRank]] and the triangle chain
    * ([[triangleCounts]], [[graphProfile]]) hold on the driver: BFS
    * counts its cached edge rows, pageRank's bounded collect takes at
    * most this many, the chain counts its canonical edges m. Past it,
    * all three run their Spark loops. Measured on the co-purchase graph
    * (q52, q77, 4 cores): at sf0.01 (about 240k BFS and 120k
    * triangle-chain edge rows) the driver regime won (q52 0.65 →
    * 0.48–0.59 s a warm run, q77 0.79 → 0.29–0.42 s), at sf0.1 (2.4M
    * and 1.2M) it lost (q52 1.12 → 1.7–3.1 s). The bound sits below
    * that crossover and keeps sf0.1 distributed; q59's supplier →
    * customer graph (about 60k edges at sf0.01, 600k at sf0.1) falls on
    * the same sides of it. */
  private[operators] val DriverEdges = 1 << 19

  /** The most documents [[Dedup.minhashPairs]] indexes, buckets and
    * verifies on the driver; past it, its distributed regime runs.
    * Measured with QueryProbe on d2, d6 and d19 (the documents plus a
    * perturbed copy each, 4 cores, median of warm runs 2–4): at sf0.01
    * (1k documents) the driver regime won by half (d6 1.20 → 0.51 s a
    * run, d2 1.20 → 0.43, d19 1.54 → 0.78), at ScaleGen sf1 (100k) only
    * by 5–13 % (d6 7.98 → 7.60 s, d2 7.32 → 6.47, d19 11.55 → 10.01):
    * one driver thread against all the cores nears its crossover there,
    * and more cores would bring it lower. The bound sits below, at 64k
    * documents: sf0.1 (10k) runs on the driver, sf1 distributed. */
  private[operators] val DriverDocs = 1 << 16

  /** Node bound under which the triangle chain broadcasts its degree
    * table (16 B a node). */
  private val BroadcastDegNodes = 1L << 23

  /** Edge bound under which the triangle close broadcasts its
    * adjacency arrays (about 8 B an oriented edge). */
  private val BroadcastAdjEdges = 1L << 22

  /** Hop-bounded breadth-first search: minimum hop distance from any
    * seed to every node reachable within `maxHops`.
    *
    * `edges` must have columns (src, dst) — directed; pass both
    * orientations for an undirected walk. `seeds` must have column
    * (node). Returns (node, dist: long), dist = 0 for seeds. A seed
    * outside the graph keeps its dist-0 row. Nulls follow the join
    * semantics, with null a node like any other: a null seed keeps its
    * row and reaches nothing, a null src is never probed, and a null
    * dst gets one (null, d) row, on the first hop d that reaches it,
    * and none when a null seed already holds (null, 0).
    *
    * The edges are cached, and one labelled count of them, which
    * fills the cache the rounds read, picks the regime:
    *   - Driver regime (at most [[DriverEdges]] edge rows, and src,
    *     dst and node of one type the driver compares as Spark does):
    *     one labelled collect of the seeds and one of the edges, then
    *     the rounds run on the driver over an adjacency list. The
    *     result is a local relation — no loop, no checkpoint.
    *   - Distributed regime: each round is a map-side broadcast probe
    *     of the edge table — the edges NEVER shuffle, only the matched
    *     destinations do (one distinct per round); first discovery is
    *     provably the minimum distance, so there is no
    *     min-aggregation over the full closure. Bound: the frontier
    *     and visited sets ride as broadcasts, so each must fit in
    *     executor memory as a node-id set (8 B a node; a billion-node
    *     reach set does not). Driver sequences the rounds; all data
    *     movement is distributed — the connectedComponents idiom with
    *     a bounded round count.
    * Both regimes give identical rows. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    bfsWith(edges, seeds, maxHops, forceDistributed = false)

  /** [[bfs]] on its distributed loop whatever the edge count: the seam
    * through which the regime-equality test reaches that loop on small
    * graphs. */
  private[graft] def bfsDistributed(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    bfsWith(edges, seeds, maxHops, forceDistributed = true)

  private def bfsWith(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      forceDistributed: Boolean): DataFrame = Settle.scope("bfs") { st =>
    val e = st.cache(edges) // a no-op when the caller cached them
    val s = seeds.select(col("node")).distinct()
    val dt = s.schema.head.dataType
    val small = !forceDistributed && driverIds(dt) &&
      Seq("src", "dst").forall(c => e.schema(c).dataType == dt) &&
      st.run("edge-count")(e.count()) <= DriverEdges
    if (small) bfsLocal(st, e, s, maxHops) else bfsLoop(st, e, s, maxHops)
  }

  /** The driver regime: seeds and edges collected, rounds over a CSR
    * adjacency list of id indices. */
  private def bfsLocal(st: Settle.Scope, e: DataFrame, s: DataFrame,
      maxHops: Int): DataFrame = {
    val s0 = s.withColumn("dist", lit(0L))
    val schema = if (maxHops == 0) s0.schema
      else s0.union(e.select(col("dst").as("node")).withColumn("dist", lit(1L))).schema
    val seedRows = st.run("seeds")(s.collect())
    val edgeRows = st.run("edges")(e.select(col("src"), col("dst")).collect())
    val ids = new IdIndex(schema.head.dataType,
      seedRows.iterator.map(_.get(0)) ++ edgeRows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))))
    val (src, dst) = (edgeRows.map(r => ids(r.get(0))), edgeRows.map(r => ids(r.get(1))))
    val (off, adj) = csr(ids.size, src, dst)
    val dist = Array.fill(ids.size)(-1)
    val out = ArrayBuffer.empty[Row]
    var frontier = seedRows.map(r => ids(r.get(0))).filter(_ >= 0)
    frontier.foreach(u => dist(u) = 0)
    out ++= seedRows.map(r => Row(r.get(0), 0L))
    var nullSeen = seedRows.exists(_.isNullAt(0))
    for (d <- 1 to maxHops) {
      val next = ArrayBuffer.empty[Int]
      for (u <- frontier; k <- off(u) until off(u + 1)) {
        val v = adj(k)
        if (v < 0) {
          if (!nullSeen) { nullSeen = true; out += Row(null, d.toLong) }
        } else if (dist(v) < 0) { dist(v) = d; next += v; out += Row(ids.ids(v), d.toLong) }
      }
      frontier = next.toArray
    }
    e.sparkSession.createDataFrame(out.asJava, schema)
  }

  /** The distributed regime over the cached edges. */
  private def bfsLoop(st: Settle.Scope, edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    // Per-round EAGER localCheckpoint, not persist+count (r14, guide
    // §2.6/§5): persist keeps the round's full lineage inside its
    // InMemoryRelation, so round k's plan nests every earlier round's —
    // the q52 terminal plan grew to ~12k lines by round 3 and Catalyst
    // re-analyzed that tree each round. The checkpoint truncates to an
    // RDD scan: O(1) plan per round, one materializing job per round
    // (same job count as persist+count), and the union below reads
    // settled node-cardinality frames.
    val s0 = st.settle(seeds.withColumn("dist", lit(0L)), "seeds")
    var visited: DataFrame = s0
    var frontier: DataFrame = s0
    for (d <- 1 to maxHops) {
      // edges stay put: the frontier probes them map-side; the
      // null-safe anti-join lets a visited null node stay visited
      val next = st.settle(edges
        .join(broadcast(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("node").as("seen"))),
          col("node") <=> col("seen"), "left_anti")
        .withColumn("dist", lit(d).cast(LongType)), s"hop-$d")
      visited = visited.union(next) // lazy union of settled rounds
      frontier = next
    }
    // no terminal cache+count: every round is already materialized, so
    // the union is a cheap scan of settled frames — the old eager
    // cache pass was one extra full job for nothing
    visited
  }

  /** Whether the driver regimes can stand in for Spark's joins on ids
    * of type `dt`: types whose equal values Spark's joins and
    * `distinct` see as equal, and no others (not floating point, whose
    * joins normalize -0.0 and NaN, and not collated strings). */
  private def driverIds(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType | DateType |
        TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** Ids the triangle close intersects as longs: the cast keeps their
    * values and order. */
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Dense indices for the distinct non-null ids among `values` (as
    * `Row.get` gives them), of type `dt`: index order is Spark's
    * ascending order of the type (its interpreted ordering over the
    * Catalyst values, so strings compare as UTF-8 bytes, not as
    * Scala's UTF-16 strings). */
  private final class IdIndex(dt: DataType, values: Iterator[Any]) {
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    private val index = new java.util.HashMap[Any, Integer]
    /** The ids, in index order. */
    val ids: Array[Any] = {
      val seen = new java.util.HashMap[Any, Any] // Catalyst value → id
      values.foreach(v => if (v != null) seen.putIfAbsent(toCatalyst(v), v))
      val keys = seen.keySet.toArray
      java.util.Arrays.sort(keys,
        TypeUtils.getInterpretedOrdering(dt).asInstanceOf[java.util.Comparator[AnyRef]])
      keys.indices.foreach(i => index.put(keys(i), i))
      keys.map(seen.get)
    }
    def size: Int = ids.length
    /** An id's index; -1 for null. */
    def apply(v: Any): Int = if (v == null) -1 else index.get(toCatalyst(v))
  }

  /** The adjacency of `n` nodes as compressed rows: node x's targets
    * are `adj(off(x) until off(x + 1))`, in edge order. Edges from a
    * null (-1) source are dropped; a null target stays -1. */
  private def csr(n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    from.foreach(x => if (x >= 0) off(x + 1) += 1)
    for (x <- 1 to n) off(x) += off(x - 1)
    val adj = new Array[Int](off(n))
    val fill = off.clone()
    for (i <- from.indices if from(i) >= 0) { adj(fill(from(i))) = to(i); fill(from(i)) += 1 }
    (off, adj)
  }

  /** Fixed-iteration PageRank (simplified: dangling mass not
    * redistributed, as in the classic Spark example) — returns
    * (node, rank) after `iters` rounds of
    * r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u).
    *
    * Determinism contract: per-edge contributions are rounded to 9
    * decimals and summed as DECIMAL(28,9) — exact and order-free —
    * then the damping blend runs in doubles; every iteration is
    * therefore bit-replayable in SQL regardless of partitioning (the
    * x13/e5 convention). The nodes are the distinct edge ends, null
    * among them; a null node follows the join rule — it joins nothing,
    * so it neither gives nor receives mass and holds the base rank
    * (1−d)/N from the first round on.
    *
    * Scale shape: edges shuffle ONCE (hash-partitioned by src, then
    * persisted — every later pass reuses that layout), and one labelled
    * bounded collect of them, which fills that cache, picks the regime:
    *   - Driver regime (at most [[DriverEdges]] edge rows, src and dst
    *     of one type the driver compares as Spark does, 0 ≤ d ≤ 1): the
    *     rounds run on the driver over the collected edges, replaying
    *     Spark's arithmetic ([[pageRankLocal]]) — no job per round, no
    *     checkpoint; the result is Spark's 9-dp round over a local
    *     relation.
    *   - Driver-vector regime (more edges, n ≤ [[DriverRows]] nodes; a
    *     bounded collect of the node table both picks it and lists the
    *     nodes): the rank vector is driver model-state (the k-means
    *     idiom) and each round is ONE Spark job — broadcast-probe the
    *     cached edges with the (src, rank, deg) vector, map-side-combine
    *     the decimal partials, collect the ≤ n sums — so the edge table
    *     never shuffles again.
    *   - Distributed regime (more nodes): the rank vector stays
    *     distributed — shuffled equi-joins with per-round settles.
    * The Spark loops take node inventory and out-degree from one
    * explode-aggregate over the cached edges, and their result is a
    * settled checkpoint, not a cache entry. All three regimes give
    * identical rows. q59's graph (about 60k edges at sf0.01, 600k at
    * sf0.1) runs the driver regime up to sf0.01 and the driver-vector
    * one at sf0.1. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    pageRankWith(edges, iters, damping, driverEdges = true, driverVector = true)

  /** [[pageRank]] on its driver-vector loop whatever the edge count: the
    * seam through which the regime-equality test reaches that loop on
    * small graphs. */
  private[graft] def pageRankDriverVector(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    pageRankWith(edges, iters, damping, driverEdges = false, driverVector = true)

  /** [[pageRank]] on its distributed loop whatever the graph size: the
    * seam through which the regime-equality test and RegimeBench reach
    * that loop on small graphs. */
  private[graft] def pageRankDistributed(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    pageRankWith(edges, iters, damping, driverEdges = false, driverVector = false)

  private def pageRankWith(edges: DataFrame, iters: Int, damping: Double,
      driverEdges: Boolean, driverVector: Boolean): DataFrame = Settle.scope("pageRank") { st =>
    // one shuffle fixes the probe layout for every later pass (and
    // keeps the persisted table at full core parallelism — an
    // AQE-coalesced tiny cache would serialize every probe)
    val e = st.cache(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    // node inventory + out-degree in ONE aggregation: every endpoint
    // appears, src occurrences carry 1 (deg = Σ), dst occurrences 0
    val nodeDeg = e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("one")),
        struct(col("dst").as("node"), lit(0L).as("one")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.one")).as("deg"))
    // no eager count: the edge collect, or else the nodeDeg collect,
    // is e's first consumer and materializes the cache as a side
    // effect — a standalone count() was one extra full cache pass (r13
    // probe)
    val dt = e.schema("src").dataType
    val local = if (driverEdges && damping >= 0 && damping <= 1 && driverIds(dt) &&
        e.schema("dst").dataType == dt) st.collectWithin(e, "edges", DriverEdges)
      else None
    local match {
      case Some(rows) =>
        pageRankLocal(e.sparkSession, nodeDeg.schema.head, rows, iters, damping)
          .select(col("node"), round(col("rank"), 9).as("rank"))
      case None =>
        // one bounded collect picks the Spark loop and, below the
        // bound, is the driver vector's node list; only the distributed
        // loop reads the node table more than once, so only it caches it
        val nodes = if (driverVector) st.collectWithin(nodeDeg, "nodes", DriverRows) else None
        val ranks = nodes match {
          case Some(nd) => pageRankSmall(st, e, nodeDeg.schema, nd, iters, damping)
          case None =>
            val cached = st.cache(nodeDeg)
            pageRankLarge(st, e, cached, st.run("nodes")(cached.count()), iters, damping)
        }
        // the final 9-dp round runs through Spark's Round (not driver
        // math) so every regime shares the exact rounding semantics
        st.settle(ranks.select(col("node"), round(col("rank"), 9).as("rank")), "ranks")
    }
  }

  /** The driver regime over the collected (src, dst) rows, replaying
    * the Spark loops' arithmetic exactly. Per round, a source's
    * contribution is Spark's `round(rank / deg, 9)` of a double
    * (BigDecimal.valueOf, HALF_UP, back to a double) cast to
    * DECIMAL(28,9) as Spark casts a double (BigDecimal.valueOf,
    * HALF_UP); each node's contributions sum exactly, and the sum
    * enters [[pageRankSmall]]'s blend as Spark's Decimal.toDouble
    * (BigDecimal.doubleValue). The out-degree counts every edge of a
    * source, a null dst included; only edges with two non-null ends
    * carry mass. With 0 ≤ d ≤ 1 every rank stays finite and under 1
    * plus rounding, so no cast overflows. Returns the unrounded
    * (node, rank) vector as a local relation. */
  private def pageRankLocal(spark: SparkSession, node: StructField, rows: Array[Row],
      iters: Int, damping: Double): DataFrame = {
    import java.math.{BigDecimal => JDecimal, RoundingMode}
    import org.apache.spark.sql.types.DoubleType
    val ids = new IdIndex(node.dataType, rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))))
    val (src, dst) = (rows.map(r => ids(r.get(0))), rows.map(r => ids(r.get(1))))
    val hasNull = src.contains(-1) || dst.contains(-1)
    val n = ids.size + (if (hasNull) 1 else 0)
    val deg = new Array[Long](ids.size)
    src.foreach(u => if (u >= 0) deg(u) += 1)
    def nineDp(x: Double): JDecimal = JDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP)
    val base = (1.0 - damping) / n
    var ranks = Array.fill(ids.size)(1.0 / n)
    for (_ <- 1 to iters) {
      val c = Array.tabulate(ids.size)(u =>
        if (deg(u) == 0) null else nineDp(nineDp(ranks(u) / deg(u)).doubleValue))
      val sc = Array.fill(ids.size)(JDecimal.ZERO)
      for (i <- src.indices if src(i) >= 0 && dst(i) >= 0) sc(dst(i)) = sc(dst(i)).add(c(src(i)))
      // a node no contribution reaches sums to 0.0, as coalesce gives
      ranks = sc.map(s => base + damping * s.doubleValue)
    }
    val nullRank = if (iters == 0) 1.0 / n else base
    val out = ranks.indices.map(i => Row(ids.ids(i), ranks(i))) ++
      (if (hasNull) Seq(Row(null, nullRank)) else Nil)
    spark.createDataFrame(out.asJava, StructType(Seq(node.copy(name = "node"),
      StructField("rank", DoubleType, nullable = false))))
  }

  /** Driver-vector regime: the rank vector is driver model-state — each
    * iteration broadcast-probes the settled edges with the
    * (src, rank, deg) vector and collects the ≤ n decimal sums; the
    * damping blend runs on the driver with the identical IEEE double
    * ops. All per-edge arithmetic (the 9-dp contribution round, the
    * decimal partial sums) stays in Spark, so every regime and the SQL
    * oracle share bit-identical semantics. Returns the unrounded
    * (node, rank) vector. */
  private def pageRankSmall(st: Settle.Scope, e: DataFrame, nodeSchema: StructType,
      nodes: Array[Row], iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val spark = e.sparkSession
    val nd: Array[(Any, Long)] = nodes.map(r => (r.get(0), r.getLong(1)))
    val n = nd.length
    val schema = StructType(Seq(
      nodeSchema.fields.head.copy(name = "src"),
      StructField("rank", DoubleType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    def toDf(ranks: Array[Double]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        nd.indices.map(i => Row(nd(i)._1, ranks(i), nd(i)._2)), 1), schema)
    var ranks: Array[Double] = Array.fill(nd.length)(1.0 / n)
    val base = (1.0 - damping) / n
    for (i <- 1 to iters) {
      val sums = e
        .join(broadcast(toDf(ranks)), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), 9).cast(DecimalType(28, 9)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("sc"))
      // the null dst's group receives nothing: a null node joins
      // nothing, as in the distributed regime's left join
      val sc = st.run(s"round-$i")(sums.collect()).collect {
        case r if !r.isNullAt(0) => r.get(0) -> r.getDecimal(1)
      }.toMap
      ranks = nd.map { case (v, _) =>
        // decimal→double via BigDecimal.doubleValue = Spark's
        // Decimal.toDouble; blend order matches the large regime's
        // lit(base) + lit(damping) * coalesce(cast(sc as double), 0.0)
        base + damping * sc.get(v).map(_.doubleValue).getOrElse(0.0)
      }
    }
    toDf(ranks).withColumnRenamed("src", "node")
  }

  /** Distributed regime: the rank vector stays distributed; per iteration
    * one shuffled equi-join + key-shuffle aggregation + node-list left
    * join, settled per round so lineage stays O(1). Returns the
    * unrounded (node, rank) vector. */
  private def pageRankLarge(st: Settle.Scope, e: DataFrame,
      nodeDeg: DataFrame, n: Long, iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    var ranks = nodeDeg.select(col("node"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(nodeDeg.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), 9).cast(DecimalType(28, 9)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("sc"))
      ranks = st.settle(nodeDeg.select("node").join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            coalesce(col("sc").cast(DoubleType), lit(0.0))).as("rank")), s"round-$i")
    }
    ranks
  }

  /** Per-node triangle counts — the local clustering signal behind
    * community detection and link-spam scoring.
    *
    * `edges` (src, dst) is an undirected edge list in any form (either
    * or both orientations, duplicates fine); self-loops are dropped,
    * and so is an edge with a null end (`least`/`greatest` skip the
    * null, which leaves a self-loop). Returns (node, n_tri: long) for
    * every node on at least one triangle. No tuning parameters:
    * algorithm, both regimes, scale shape and the fixed bounds are
    * [[triangleChain]]'s. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsWith(edges, forceDistributed = false)

  /** [[triangleCounts]] on its distributed chain whatever the edge
    * count: the seam through which the regime-equality test reaches
    * that chain on small graphs. */
  private[graft] def triangleCountsDistributed(edges: DataFrame): DataFrame =
    triangleCountsWith(edges, forceDistributed = true)

  private def triangleCountsWith(edges: DataFrame, forceDistributed: Boolean): DataFrame =
    Settle.scope("triangleCounts")(st => triangleChain(st, edges, forceDistributed).triangles)

  /** What [[triangleChain]] builds: the node count `n`, the wedge
    * count Σ C(deg, 2) (null when n = 0, as SQL's SUM over no rows),
    * the per-node triangle counts (node, n_tri) and the one-row
    * moments (m, sx, sxx, sxy, tri3) of [[graphProfile]]: the edge
    * count, Σ(du + dv), Σ(du² + dv²), Σ 2·du·dv over the canonical
    * edges in DECIMAL(38,0), and 3·T (null when T = 0). `local` when
    * both frames are local relations (the driver regime). */
  private final case class TriangleChain(n: Long, wedges: java.lang.Long,
      triangles: DataFrame, moments: DataFrame, local: Boolean)

  /** The moments' columns, as the distributed aggregates type them. */
  private val MomentsSchema = {
    val d38 = DecimalType(38, 0)
    StructType(Seq(StructField("m", LongType, nullable = false),
      StructField("sx", d38), StructField("sxx", d38), StructField("sxy", d38),
      StructField("tri3", LongType)))
  }

  /** The triangle pipeline [[triangleCounts]] and [[graphProfile]]
    * share, over an undirected (src, dst) edge list in any form.
    *
    * Edges become canonical (a = least, b = greatest, self-loops
    * dropped, distinct), and one explode-aggregate gives each node's
    * degree. One driver aggregate over the degree table yields the
    * node count n, the edge count m = Σdeg / 2 (every canonical edge
    * adds 2 to Σdeg) and the profile's wedge count; it runs on the
    * caller's thread, fills the edge and degree caches and picks the
    * regime:
    *   - Driver regime (m ≤ [[DriverEdges]], ids of a type the driver
    *     compares as Spark does): one labelled collect of the cached
    *     canonical edges, then orientation, the sorted-adjacency close
    *     and the moments run on the driver, in Spark's order of the id
    *     type. Triangles and moments are local relations.
    *   - Distributed regime: the degree joins broadcast while
    *     n ≤ 2^23, the adjacency joins of the close while m ≤ 2^22;
    *     above those bounds both fall back to distributed equi-joins.
    *
    * Algorithm: degree-ordered orientation (Ortmann/Brandes, the
    * standard distributed-triangle idiom). Each edge is directed from
    * its lower endpoint to its higher endpoint in the total order
    * (degree asc, node asc), so every triangle survives exactly once
    * as u→v closed by w ∈ N⁺(u) ∩ N⁺(v) — no double-counting, no
    * min/max post-filter. The oriented edges keep their endpoint
    * degrees, so the profile's assortativity moments read the same
    * cached frame as the close. The close is [[closeOriented]]. */
  private def triangleChain(st: Settle.Scope, edges: DataFrame,
      forceDistributed: Boolean): TriangleChain = {
    val und = st.cache(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // both endpoints of the canonical edge carry degree 1 — one
    // explode-aggregate, the pageRank nodeDeg idiom. CACHED: the
    // driver aggregate and both endpoint-degree joins read it.
    val deg = st.cache(und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val agg = st.run("degrees")(deg.agg(count(lit(1)), coalesce(sum(col("deg")), lit(0L)),
      sum(expr("deg * (deg - 1) div 2"))).head())
    val (n, m, wedges) = (agg.getLong(0), agg.getLong(1) / 2,
      agg.get(2).asInstanceOf[java.lang.Long])
    if (!forceDistributed && m <= DriverEdges && driverIds(und.schema("a").dataType))
      return triangleLocal(und.sparkSession, n, wedges, und.schema, st.run("edges")(und.collect()))
    def bcDeg(df: DataFrame): DataFrame = if (n <= BroadcastDegNodes) broadcast(df) else df
    val withDeg = und
      .join(bcDeg(deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
      .join(bcDeg(deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
    val oriented = st.cache(withDeg
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("da").as("du"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("db").as("du"),
            col("da").as("dv"))).as("e"))
      .select("e.*"))
    val triangles = closeOriented(oriented, m <= BroadcastAdjEdges)
    // every moment is symmetric in (du, dv), so the oriented edges
    // serve as the canonical listing
    val d38 = DecimalType(38, 0)
    val moments = oriented.agg(count(lit(1)).as("m"),
        sum((col("du") + col("dv")).cast(d38)).as("sx"),
        sum((col("du") * col("du") + col("dv") * col("dv")).cast(d38)).as("sxx"),
        sum((col("du") * col("dv") * 2).cast(d38)).as("sxy"))
      .crossJoin(triangles.agg(sum("n_tri").as("tri3"))) // = 3·T (3 corners each)
    TriangleChain(n, wedges, triangles, moments, local = false)
  }

  /** The driver regime of [[triangleChain]] over the collected
    * canonical edges (a, b): distinct, no nulls, a < b. Ids become
    * indices in Spark's order of their type, so the orientation, the
    * sorted out-neighborhoods and their merge intersection follow the
    * distributed close exactly. Every sum is exact in a long: with
    * m ≤ [[DriverEdges]] edges no degree passes m, so Σ(du² + dv²)
    * stays under 2m³ < 2^63. */
  private def triangleLocal(spark: SparkSession, n: Long, wedges: java.lang.Long,
      ends: StructType, rows: Array[Row]): TriangleChain = {
    val dt = ends("a").dataType
    val ids = new IdIndex(dt, rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))))
    val (a, b) = (rows.map(r => ids(r.get(0))), rows.map(r => ids(r.get(1))))
    val deg = new Array[Long](ids.size)
    a.foreach(deg(_) += 1)
    b.foreach(deg(_) += 1)
    def before(x: Int, y: Int): Boolean = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val (u, v) = a.indices.map(i => if (before(a(i), b(i))) (a(i), b(i)) else (b(i), a(i)))
      .toArray.unzip
    val (off, adj) = csr(ids.size, u, v)
    for (x <- 0 until ids.size) java.util.Arrays.sort(adj, off(x), off(x + 1))
    val tri = new Array[Long](ids.size)
    var (sx, sxx, sxy, t3) = (0L, 0L, 0L, 0L)
    for (i <- u.indices) {
      val (x, y) = (u(i), v(i))
      val (dx, dy) = (deg(x), deg(y))
      sx += dx + dy
      sxx += dx * dx + dy * dy
      sxy += dx * dy * 2
      var (p, q) = (off(x), off(y))
      while (p < off(x + 1) && q < off(y + 1)) {
        if (adj(p) < adj(q)) p += 1
        else if (adj(p) > adj(q)) q += 1
        else {
          tri(x) += 1; tri(y) += 1; tri(adj(p)) += 1; t3 += 3
          p += 1; q += 1
        }
      }
    }
    // the distributed close explodes (u, v, w) with w never null and,
    // for an integral id, a long: the id comes out widened to a long
    val (nodeType, node) =
      if (integral(dt)) (LongType, (x: Any) => x.asInstanceOf[Number].longValue)
      else (dt, (x: Any) => x)
    val triSchema = StructType(Seq(StructField("node", nodeType, ends.exists(_.nullable)),
      StructField("n_tri", LongType, nullable = false)))
    val triRows = tri.indices.filter(tri(_) > 0).map(x => Row(node(ids.ids(x)), tri(x)))
    def dec(x: Long) = if (rows.isEmpty) null else java.math.BigDecimal.valueOf(x)
    val moments = Row(rows.length.toLong, dec(sx), dec(sxx), dec(sxy), if (t3 == 0) null else t3)
    TriangleChain(n, wedges, spark.createDataFrame(triRows.asJava, triSchema),
      spark.createDataFrame(Seq(moments).asJava, MomentsSchema), local = true)
  }

  /** The edge-iterator triangle close over CACHED degree-ordered
    * edges (u, v, …): per-node triangle counts (node, n_tri),
    * eagerly materialized. `oriented` belongs to the caller's scope,
    * which releases it once its own result no longer needs it.
    *
    * Per-u out-neighbor arrays (bounded O(√m) by the orientation)
    * ride onto each edge via two equi-joins, and the native sorted
    * intersect emits only the w's that actually close a triangle. The
    * wedge-join formulation this replaces materialized every open
    * wedge — Σ outdeg² rows (~72M at sf0.1 on the co-purchase graph,
    * 37 s) — where the intersection content is just the ~1.9M real
    * triangles (≈6 s): same O(m^1.5) worst-case work, but the
    * Σ-outdeg² intermediate never hits a shuffle, and the intersection
    * scans run inside codegen. Adjacency arrays are orientation-bounded
    * so no hub key can blow a task; triangle rows (the only explode)
    * are output-sized. */
  private def closeOriented(oriented: DataFrame,
      broadcastAdj: Boolean): DataFrame = Settle.scope("triangleClose") { st =>
    def bcAdj(df: DataFrame): DataFrame = if (broadcastAdj) broadcast(df) else df
    // per-u sorted out-neighborhoods; orientation bounds their size.
    // CACHED: both triangle-close joins broadcast it, and each
    // broadcast build would otherwise re-run the groupBy + sort.
    val adj = st.cache(oriented.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs")))
    // inner join on v is lossless: a triangle's base edge (u,v) always
    // has w ∈ N⁺(v), so v is never a sink for a closing edge
    // native sorted-merge intersection: one primitive buffer per row,
    // no per-row hash set (array_intersect GC-thrashes at 1M+ edges).
    // The long cast keeps ids and their order only for integral ids;
    // any other id type intersects in its own type.
    val isect = if (integral(oriented.schema("u").dataType))
      graft.expressions.Kernels.sortedIntersect(
        col("nu").cast(ArrayType(LongType)), col("nv").cast(ArrayType(LongType)))
      else array_intersect(col("nu"), col("nv"))
    val tri = oriented
      .join(bcAdj(adj.select(col("node").as("u"), col("nbrs").as("nu"))), Seq("u"))
      .join(bcAdj(adj.select(col("node").as("v"), col("nbrs").as("nv"))), Seq("v"))
      .select(col("u"), col("v"), explode(isect).as("w"))
    val counts = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    // node-cardinality result: materialize eagerly so the adj cache
    // releases before return (the pqTopK convention)
    st.settle(counts, "close")
  }

  /** Whole-graph structural datasheet (the q77 kernel): one row of
    * n_nodes, n_edges, n_wedges (Σ C(deg,2)), n_triangles, the global
    * clustering coefficient C = 3T/W (transitivity) and the degree
    * assortativity r (Newman 2002) — the Pearson correlation of
    * endpoint degrees over the directed edge listing, from the
    * scale-free integer kernels M·Σxy − (Σx)² and M·Σx² − (Σx)²
    * staged in DECIMAL(38,0) (the t61 discipline) with ONE terminal
    * IEEE division each. Degenerate guards: clustering null when
    * W = 0, r null when the denominator is 0 (regular graphs — exact
    * integer tests).
    *
    * `edges` (src, dst) is an undirected edge list in any form, as for
    * [[triangleCounts]]: the profile is that of its canonical form
    * (self-loops dropped, one row per undirected edge). Degrees,
    * moments and triangles all come from the one [[triangleChain]], in
    * its driver regime while the canonical edges number at most
    * [[DriverEdges]] and in its distributed one above. Either way the
    * datasheet arithmetic runs as the same Spark expressions over one
    * row of moments — a local relation in the driver regime — so both
    * regimes give bit-identical rows. */
  def graphProfile(edges: DataFrame): DataFrame =
    graphProfileWith(edges, forceDistributed = false)

  /** [[graphProfile]] on its distributed chain whatever the edge count:
    * the seam through which the regime-equality test reaches that
    * chain on small graphs. */
  private[graft] def graphProfileDistributed(edges: DataFrame): DataFrame =
    graphProfileWith(edges, forceDistributed = true)

  private def graphProfileWith(edges: DataFrame,
      forceDistributed: Boolean): DataFrame = Settle.scope("graphProfile") { st =>
    import org.apache.spark.sql.types.DoubleType
    val chain = triangleChain(st, edges, forceDistributed)
    val m2 = (col("m") * 2).cast(DecimalType(38, 0)) // directed listing size
    val numer = m2 * col("sxy") - col("sx") * col("sx")
    val denom = m2 * col("sxx") - col("sx") * col("sx")
    val row = chain.moments
      .withColumn("n_wedges", lit(chain.wedges).cast(LongType))
      .withColumn("numer", numer).withColumn("denom", denom)
      .select(lit(chain.n).as("n_nodes"), col("m").as("n_edges"), col("n_wedges"),
        expr("tri3 div 3").as("n_triangles"),
        when(col("n_wedges") > 0, col("tri3").cast(DoubleType) /
          col("n_wedges").cast(DoubleType)).as("clustering"),
        when(col("denom") > 0, col("numer").cast(DoubleType) /
          col("denom").cast(DoubleType)).as("assortativity"))
    // the datasheet is ONE row. Over the driver regime's local moments
    // it is a projection of a local relation; otherwise settle it
    // eagerly so the edge/degree caches release before return (the
    // pqTopK convention; repeated profile calls must not accumulate
    // cached edge tables)
    if (chain.local) row else st.settle(row, "datasheet")
  }

  /** ALL (descendant, ancestor) pairs of a parent FOREST via pointer
    * DOUBLING: round k turns "all ancestors within 2^(k-1) hops" into
    * "within 2^k hops" by composing the pair set with itself
    * ((a,b) ⋈ (b,c) → (a,c)) — ⌈log₂ depth⌉ equi-join rounds instead
    * of a depth-long chain, the device that makes a 30-deep hierarchy
    * cost 5 shuffles, not 30. Output size is Σ depth(n) pairs
    * (inherent to the closure — every node lists its ancestors), each
    * round's result materialized via localCheckpoint so the next
    * round joins a settled set, not a growing lineage. `edges` =
    * (node, parent), roots omitted or self-looped out by the caller. */
  def ancestorPairs(edges: DataFrame, rounds: Int): DataFrame = Settle.scope("ancestorPairs") { st =>
    var p = st.settle(edges.select(col("node").as("a"), col("parent").as("b"))
      .filter(col("a") =!= col("b")).distinct(), "pairs")
    for (r <- 1 to rounds) {
      p = st.settle(p.union(
          p.as("x").join(p.as("y"), col("x.b") === col("y.a"))
            .select(col("x.a").as("a"), col("y.b").as("b")))
        .distinct(), s"round-$r")
    }
    p
  }

  /** Hierarchical subtree ROLLUP over a parent forest: each node's
    * aggregate includes every descendant's value — the category-tree /
    * org-chart aggregation (SQL's recursive-CTE rollup) expressed as
    * the ancestor closure + ONE groupBy: values join the (desc, anc)
    * pairs (plus the self pair) on the descendant and sum per
    * ancestor. `values`: (node, value). */
  def subtreeRollup(edges: DataFrame, values: DataFrame,
      rounds: Int): DataFrame = {
    val pairs = ancestorPairs(edges, rounds)
      .union(values.select(col("node").as("a"), col("node").as("b")))
    pairs.join(values.withColumnRenamed("node", "a"), Seq("a"))
      .groupBy(col("b").as("node"))
      .agg(count(lit(1)).as("subtree_n"), sum(col("value")).as("subtree_val"))
  }
}
