package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import graft.Settle

/** Iterative graph traversal over edge DataFrames.
  *
  * Reference scope note: the reference library has no graph surface;
  * this is part of the large-scale-pipeline extension mandated by the
  * north star (lineage walks, link graphs, co-occurrence expansion).
  */
object Graphs {

  /** The most rows a graph loop holds on the driver: the node bound of
    * [[pageRank]]'s driver rank vector and the pair bound of
    * [[Dedup.connectedComponents]]' driver union-find. Past it, both
    * loops stay distributed. */
  private[operators] val DriverRows = 5000000

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
    * (node). Returns (node, dist: long), dist = 0 for seeds.
    *
    * Scale shape: each round is a map-side broadcast probe of the
    * edge table — the edges NEVER shuffle, only the matched
    * destinations do (one distinct per round); first discovery is
    * provably the minimum distance, so there is no min-aggregation
    * over the full closure. Bound: the frontier and visited sets ride
    * as broadcasts, so each must fit in executor memory as a node-id
    * set (8 B a node; a billion-node reach set does not). The caller
    * passes a cached `edges` (probed once per round). Driver sequences
    * the rounds; all data movement is distributed — the
    * connectedComponents idiom with a bounded round count.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = Settle.scope("bfs") { st =>
    // Per-round EAGER localCheckpoint, not persist+count (r14, guide
    // §2.6/§5): persist keeps the round's full lineage inside its
    // InMemoryRelation, so round k's plan nests every earlier round's —
    // the q52 terminal plan grew to ~12k lines by round 3 and Catalyst
    // re-analyzed that tree each round. The checkpoint truncates to an
    // RDD scan: O(1) plan per round, one materializing job per round
    // (same job count as persist+count), and the union below reads
    // settled node-cardinality frames.
    val s0 = st.settle(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)), "seeds")
    var visited: DataFrame = s0
    var frontier: DataFrame = s0
    for (d <- 1 to maxHops) {
      // edges stay put: the frontier probes them map-side
      val next = st.settle(edges
        .join(broadcast(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited.select("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(d).cast(LongType)), s"hop-$d")
      visited = visited.union(next) // lazy union of settled rounds
      frontier = next
    }
    // no terminal cache+count: every round is already materialized, so
    // the union is a cheap scan of settled frames — the old eager
    // cache pass was one extra full job for nothing
    visited
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
    * x13/e5 convention). N and the per-iteration sequencing are driver
    * model-state (the k-means idiom).
    *
    * Scale shape: edges shuffle ONCE (hash-partitioned by src, then
    * persisted — every later pass reuses that layout); node inventory
    * and out-degree come from a single explode-aggregate over the
    * settled edges. While the rank vector fits on the driver (n ≤
    * [[DriverRows]]; one bounded collect of the node table both picks
    * the loop and lists the nodes) it is driver model-state
    * (the k-means idiom): each iteration is ONE distributed job —
    * broadcast-probe the settled edges with the (src, rank, deg)
    * vector, map-side-combine the decimal partials, collect the ≤ n
    * sums — so the edge table never shuffles again. Past that bound
    * the rank vector stays distributed: shuffled equi-joins with
    * per-round settles. Both loops give bit-identical ranks. The
    * result is a settled checkpoint, not a cache entry. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    pageRankWith(edges, iters, damping, forceDistributed = false)

  /** [[pageRank]] on its distributed loop whatever the node count: the
    * seam through which the regime-equality test and RegimeBench reach
    * that loop on small graphs. */
  private[graft] def pageRankDistributed(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    pageRankWith(edges, iters, damping, forceDistributed = true)

  private def pageRankWith(edges: DataFrame, iters: Int, damping: Double,
      forceDistributed: Boolean): DataFrame = Settle.scope("pageRank") { st =>
    // one shuffle fixes the probe layout for every later pass (and
    // keeps the persisted table at full core parallelism — an
    // AQE-coalesced tiny cache would serialize every probe)
    val e = st.cache(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    // no eager count: the nodeDeg aggregation below is e's first
    // consumer and materializes the cache as a side effect — a
    // standalone count() was one extra full cache pass (r13 probe)
    // node inventory + out-degree in ONE aggregation: every endpoint
    // appears, src occurrences carry 1 (deg = Σ), dst occurrences 0
    val nodeDeg = e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("one")),
        struct(col("dst").as("node"), lit(0L).as("one")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.one")).as("deg"))
    // one bounded collect picks the regime and, below the bound, is
    // the driver vector's node list; only the distributed loop reads
    // the node table more than once, so only it caches the table
    val nodes = if (forceDistributed) None else st.collectWithin(nodeDeg, "nodes", DriverRows)
    val ranks = nodes match {
      case Some(nd) => pageRankSmall(st, e, nodeDeg.schema, nd, iters, damping)
      case None =>
        val cached = st.cache(nodeDeg)
        pageRankLarge(st, e, cached, st.run("nodes")(cached.count()), iters, damping)
    }
    // the final 9-dp round runs through Spark's Round (not driver
    // math) so both loops share the exact rounding semantics
    st.settle(ranks.select(col("node"), round(col("rank"), 9).as("rank")), "ranks")
  }

  /** Small regime: the rank vector is driver model-state — each
    * iteration broadcast-probes the settled edges with the
    * (src, rank, deg) vector and collects the ≤ n decimal sums; the
    * damping blend runs on the driver with the identical IEEE double
    * ops. All per-edge arithmetic (the 9-dp contribution round, the
    * decimal partial sums) stays in Spark, so both regimes and the SQL
    * oracle share bit-identical semantics. Returns the unrounded
    * (node, rank) vector. */
  private def pageRankSmall(st: Settle.Scope, e: DataFrame, nodeSchema: StructType,
      nodes: Array[Row], iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField}
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
      val sc = st.run(s"round-$i")(sums.collect()).map(r => r.get(0) -> r.getDecimal(1)).toMap
      ranks = nd.map { case (v, _) =>
        // decimal→double via BigDecimal.doubleValue = Spark's
        // Decimal.toDouble; blend order matches the large regime's
        // lit(base) + lit(damping) * coalesce(cast(sc as double), 0.0)
        base + damping * sc.get(v).map(_.doubleValue).getOrElse(0.0)
      }
    }
    toDf(ranks).withColumnRenamed("src", "node")
  }

  /** Large regime: the rank vector stays distributed; per iteration
    * one shuffled equi-join + key-shuffle aggregation + node-list left
    * join, settled per round so lineage stays O(1). Returns the
    * unrounded (node, rank) vector. */
  private def pageRankLarge(st: Settle.Scope, e: DataFrame,
      nodeDeg: DataFrame, n: Long, iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
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
    * or both orientations, duplicates fine); self-loops are dropped.
    * Returns (node, n_tri: long) for every node on at least one
    * triangle. No tuning parameters: algorithm, scale shape and the
    * fixed broadcast bounds are [[triangleChain]]'s. */
  def triangleCounts(edges: DataFrame): DataFrame = Settle.scope("triangleCounts") { st =>
    triangleChain(st, edges).triangles
  }

  /** What [[triangleChain]] builds: the node count `n`, the wedge
    * count Σ C(deg, 2) (null when n = 0, as SQL's SUM over no rows), the
    * degree-ordered edges (u, v, du, dv) and the settled per-node
    * triangle counts (node, n_tri). */
  private final case class TriangleChain(n: Long, wedges: java.lang.Long,
      oriented: DataFrame, triangles: DataFrame)

  /** The triangle pipeline [[triangleCounts]] and [[graphProfile]]
    * share, over an undirected (src, dst) edge list in any form.
    *
    * Edges become canonical (a = least, b = greatest, self-loops
    * dropped, distinct), and one explode-aggregate gives each node's
    * degree. One driver aggregate over the degree table yields the
    * node count n, the edge count m = Σdeg / 2 (every canonical edge
    * adds 2 to Σdeg) and the profile's wedge count; it runs on the
    * caller's thread and fills the edge and degree caches. The degree
    * joins broadcast while n ≤ 2^23, the adjacency joins of the close
    * while m ≤ 2^22; above those bounds both fall back to distributed
    * equi-joins.
    *
    * Algorithm: degree-ordered orientation (Ortmann/Brandes, the
    * standard distributed-triangle idiom). Each edge is directed from
    * its lower endpoint to its higher endpoint in the total order
    * (degree asc, node asc), so every triangle survives exactly once
    * as u→v closed by w ∈ N⁺(u) ∩ N⁺(v) — no double-counting, no
    * min/max post-filter. The oriented edges keep their endpoint
    * degrees, so the profile's assortativity moments read the same
    * cached frame as the close. The close is [[closeOriented]]. */
  private def triangleChain(st: Settle.Scope, edges: DataFrame): TriangleChain = {
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
    TriangleChain(n, wedges, oriented, closeOriented(oriented, m <= BroadcastAdjEdges))
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
    // no per-row hash set (array_intersect GC-thrashes at 1M+ edges)
    val isect = graft.expressions.Kernels.sortedIntersect(
      col("nu").cast(ArrayType(LongType)), col("nv").cast(ArrayType(LongType)))
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
    * moments and triangles all come from the one [[triangleChain]]. */
  def graphProfile(edges: DataFrame): DataFrame = Settle.scope("graphProfile") { st =>
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val chain = triangleChain(st, edges)
    // every moment is symmetric in (du, dv), so the oriented edges
    // serve as the canonical listing
    val mo = chain.oriented.agg(count(lit(1)).as("m"),
      sum((col("du") + col("dv")).cast(d38)).as("sx"),
      sum((col("du") * col("du") + col("dv") * col("dv")).cast(d38))
        .as("sxx"),
      sum((col("du") * col("dv") * 2).cast(d38)).as("sxy"))
    val tri = chain.triangles.agg(sum("n_tri").as("tri3")) // = 3·T (3 corners each)
    val m2 = (col("m") * 2).cast(d38) // directed listing size
    val numer = m2 * col("sxy") - col("sx") * col("sx")
    val denom = m2 * col("sxx") - col("sx") * col("sx")
    val row = mo.crossJoin(tri)
      .withColumn("n_wedges", lit(chain.wedges).cast(LongType))
      .withColumn("numer", numer).withColumn("denom", denom)
      .select(lit(chain.n).as("n_nodes"), col("m").as("n_edges"), col("n_wedges"),
        expr("tri3 div 3").as("n_triangles"),
        when(col("n_wedges") > 0, col("tri3").cast(DoubleType) /
          col("n_wedges").cast(DoubleType)).as("clustering"),
        when(col("denom") > 0, col("numer").cast(DoubleType) /
          col("denom").cast(DoubleType)).as("assortativity"))
    // the datasheet is ONE row — settle it eagerly so the edge/degree
    // caches release before return (the pqTopK convention; repeated
    // profile calls must not accumulate cached edge tables)
    st.settle(row, "datasheet")
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
