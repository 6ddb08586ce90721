package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.Settle

/** Iterative graph traversal over edge DataFrames.
  *
  * Reference scope note: the reference library has no graph surface;
  * this is part of the large-scale-pipeline extension mandated by the
  * north star (lineage walks, link graphs, co-occurrence expansion).
  */
object Graphs {

  /** Hop-bounded breadth-first search: minimum hop distance from any
    * seed to every node reachable within `maxHops`.
    *
    * `edges` must have columns (src, dst) — directed; pass both
    * orientations for an undirected walk. `seeds` must have column
    * (node). Returns (node, dist: long), dist = 0 for seeds.
    *
    * Scale shape: with `broadcastFrontier` (the default) each round is
    * a map-side broadcast probe of the persisted edge table — the
    * edges NEVER shuffle, only the matched destinations do (one
    * distinct per round); first discovery is provably the minimum
    * distance, so there is no min-aggregation over the full closure.
    * The frontier and visited sets ride as broadcasts, which holds
    * while they fit on executors (node-id sets, not payloads); for
    * frontiers past broadcast scale pass `broadcastFrontier = false`
    * to fall back to shuffled equi-joins. The caller passes a cached
    * `edges` (probed once per round). Driver sequences the rounds; all
    * data movement is distributed — the connectedComponents idiom with
    * a bounded round count.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      broadcastFrontier: Boolean = true): DataFrame = Settle.scope("bfs") { st =>
    def bc(df: DataFrame): DataFrame =
      if (broadcastFrontier) broadcast(df) else df
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
        .join(bc(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(bc(visited.select("node")), Seq("node"), "left_anti")
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
    * settled edges. While the rank vector fits on executors (n ≤
    * `broadcastNodes`, known exactly before the regime is chosen) it
    * is driver model-state (the k-means idiom): each iteration is ONE
    * distributed job — broadcast-probe the settled edges with the
    * (src, rank, deg) vector, map-side-combine the decimal partials,
    * collect the ≤ n sums — so the edge table never shuffles again.
    * Past that regime the same loop falls back to shuffled equi-joins
    * with per-round materialization (the bfs `broadcastFrontier`
    * idiom). */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85,
      broadcastNodes: Long = 5000000L): DataFrame = Settle.scope("pageRank") { st =>
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
    val nodeDeg = st.cache(e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("one")),
        struct(col("dst").as("node"), lit(0L).as("one")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.one")).as("deg")))
    val n = nodeDeg.count()
    val out =
      if (n <= broadcastNodes) pageRankSmall(st, e, nodeDeg, n, iters, damping)
      else pageRankLarge(st, e, nodeDeg, n, iters, damping)
    out.count()
    out
  }

  /** Small regime (n ≤ broadcastNodes): the rank vector is driver
    * model-state — each iteration broadcast-probes the settled edges
    * with the (src, rank, deg) vector and collects the ≤ n decimal
    * sums; the damping blend runs on the driver with the identical
    * IEEE double ops. All per-edge arithmetic (the 9-dp contribution
    * round, the decimal partial sums) stays in Spark, so both regimes
    * and the SQL oracle share bit-identical semantics. */
  private def pageRankSmall(st: Settle.Scope, e: DataFrame,
      nodeDeg: DataFrame, n: Long, iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType}
    import org.apache.spark.sql.Row
    val spark = e.sparkSession
    val nd: Array[(Any, Long)] = nodeDeg.collect()
      .map(r => (r.get(0), r.getLong(1)))
    val schema = StructType(Seq(
      nodeDeg.schema.fields.head.copy(name = "src"),
      StructField("rank", DoubleType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    def toDf(ranks: Array[Double]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        nd.indices.map(i => Row(nd(i)._1, ranks(i), nd(i)._2)), 1), schema)
    var ranks: Array[Double] = Array.fill(nd.length)(1.0 / n)
    val base = (1.0 - damping) / n
    for (_ <- 1 to iters) {
      val sc = e
        .join(broadcast(toDf(ranks)), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), 9).cast(DecimalType(28, 9)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("sc"))
        .collect().map(r => r.get(0) -> r.getDecimal(1)).toMap
      ranks = nd.map { case (v, _) =>
        // decimal→double via BigDecimal.doubleValue = Spark's
        // Decimal.toDouble; blend order matches the large regime's
        // lit(base) + lit(damping) * coalesce(cast(sc as double), 0.0)
        base + damping * sc.get(v).map(_.doubleValue).getOrElse(0.0)
      }
    }
    // final 9-dp round runs through Spark's Round (not driver math) so
    // both regimes share the exact rounding semantics
    st.cache(toDf(ranks).select(col("src").as("node"),
        round(col("rank"), 9).as("rank")))
  }

  /** Large regime: the rank vector stays distributed; per iteration
    * one shuffled equi-join + key-shuffle aggregation + node-list left
    * join, materialized per round so lineage stays O(1). */
  private def pageRankLarge(st: Settle.Scope, e: DataFrame,
      nodeDeg: DataFrame, n: Long, iters: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    var ranks = nodeDeg.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(nodeDeg.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), 9).cast(DecimalType(28, 9)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("sc"))
      ranks = st.cache(nodeDeg.select("node").join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            coalesce(col("sc").cast(DoubleType), lit(0.0))).as("rank")))
      ranks.count()
    }
    st.cache(ranks.select(col("node"), round(col("rank"), 9).as("rank")))
  }

  /** Per-node triangle counts — the local clustering signal behind
    * community detection and link-spam scoring.
    *
    * `edges` is an undirected edge list in any form (either or both
    * orientations, duplicates fine); self-loops are dropped. Returns
    * (node, n_tri: long) for every node on at least one triangle.
    *
    * Algorithm: degree-ordered orientation (Ortmann/Brandes, the
    * standard distributed-triangle idiom). Each undirected edge is
    * directed from its lower endpoint to its higher endpoint in the
    * total order (degree asc, node asc), so every triangle survives
    * exactly once as u→v closed by w ∈ N⁺(u) ∩ N⁺(v) — no
    * double-counting, no min/max post-filter. The close is the
    * EDGE-ITERATOR form: per-u out-neighbor arrays (bounded O(√m) by
    * the orientation) ride onto each edge via two equi-joins, and
    * `array_intersect` emits only the w's that actually close a
    * triangle. The wedge-join formulation this replaces materialized
    * every open wedge — Σ outdeg² rows (~72M at sf0.1 on the
    * co-purchase graph, 37 s) — where the intersection content is just
    * the ~1.9M real triangles (≈6 s): same O(m^1.5) worst-case work,
    * but the Σ-outdeg² intermediate never hits a shuffle, and the
    * intersection scans run inside codegen.
    *
    * Scale shape: the corpus shuffles are the distinct and the
    * adjacency groupBy; deg/adjacency joins broadcast while their
    * exact counts fit executors (node- resp. edge-bounded thresholds,
    * the pageRank regime convention) and fall back to distributed
    * equi-joins above. Adjacency arrays are orientation-bounded so no
    * hub key can blow a task; triangle rows (the only explode) are
    * output-sized. */
  def triangleCounts(edges: DataFrame,
      broadcastNodes: Long = 1L << 23,
      broadcastAdjEdges: Long = 1L << 22): DataFrame = Settle.scope("triangleCounts") { st =>
    val und = st.cache(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // both endpoints of the canonical edge carry degree 1 — one
    // explode-aggregate, the pageRank nodeDeg idiom. CACHED: it is
    // consumed three times (the regime count + both endpoint-degree
    // broadcast builds), and a broadcast build re-executes its child
    // plan — uncached, the aggregation ran once per build.
    val deg = st.cache(und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // bounded model-state broadcasts, decided on EXACT counts (the
    // pageRank broadcastNodes regime; distributed equi-joins above):
    // deg is 16 B/node, adjacency totals ~8 B/oriented-edge — the
    // latter is edge-bounded, so it gets its own threshold. The two
    // counts are independent — overlapped as concurrent driver jobs
    // (guide §2.6).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val nNodesF = Future(deg.count())
    val mEdges = und.count() // cheap: und is cached
    val nNodes = Await.result(nNodesF,
      scala.concurrent.duration.Duration.Inf)
    val bcN: DataFrame => DataFrame =
      if (nNodes <= broadcastNodes) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df
    val withDeg = und
      .join(bcN(deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
      .join(bcN(deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
    val oriented = st.cache(orientedFrom(withDeg, "a", "b", "da", "db"))
    closeOriented(oriented, mEdges <= broadcastAdjEdges)
  }

  /** Degree-ordered orientation of a degree-joined canonical edge
    * frame: each edge directed from its lower endpoint in the
    * (degree asc, node asc) total order. Split out so [[graphProfile]]
    * can derive it from the SAME degree-joined pass that feeds its
    * assortativity moments (one pass emitting both, guide §2.5). */
  private def orientedFrom(withDeg: DataFrame, aCol: String, bCol: String,
      daCol: String, dbCol: String): DataFrame = withDeg
    .select(
      when(col(daCol) < col(dbCol) ||
          (col(daCol) === col(dbCol) && col(aCol) < col(bCol)),
        struct(col(aCol).as("u"), col(bCol).as("v")))
        .otherwise(struct(col(bCol).as("u"), col(aCol).as("v"))).as("e"))
    .select(col("e.u").as("u"), col("e.v").as("v"))

  /** The edge-iterator triangle close over a CACHED degree-ordered
    * orientation (u, v): per-node triangle counts (node, n_tri),
    * eagerly materialized. `oriented` belongs to the caller's scope,
    * which releases it once its own result no longer needs it. */
  private def closeOriented(oriented: DataFrame,
      broadcastAdj: Boolean): DataFrame = Settle.scope("triangleClose") { st =>
    val bcA: DataFrame => DataFrame =
      if (broadcastAdj) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df
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
      .join(bcA(adj.select(col("node").as("u"), col("nbrs").as("nu"))), Seq("u"))
      .join(bcA(adj.select(col("node").as("v"), col("nbrs").as("nv"))), Seq("v"))
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
    * IEEE division each. `edges` must be canonical (src < dst,
    * distinct); it is cached here and re-read by the degree,
    * moment, and triangle passes. Degenerate guards: clustering null
    * when W = 0, r null when the denominator is 0 (regular graphs —
    * exact integer tests).
    *
    * `triCounts`: a precomputed [[triangleCounts]] result over the SAME
    * canonical edge set. The triangle close is the profile's dominant
    * term (the O(m^1.5) edge-iterator pass), so a caller that already
    * ran it — q61 before q77, or vice versa — passes the per-node
    * counts here and the profile reduces to the degree/moment scans
    * plus one node-cardinality sum. The profile only consumes
    * Σ n_tri = 3T, so any frame with an `n_tri` column over the same
    * edges is a valid carrier; equality with the self-computed form is
    * GraphsSpec-pinned. */
  def graphProfile(edgesIn: DataFrame,
      triCounts: Option[DataFrame] = None,
      broadcastNodes: Long = 1L << 23,
      broadcastAdjEdges: Long = 1L << 22): DataFrame = Settle.scope("graphProfile") { st =>
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val edges = st.cache(edgesIn)
    // Contract guard (debug-mode — one extra pass over the edge
    // cache): the profile and its triangle close assume canonical
    // edges (src < dst, distinct); a violating caller would get
    // silently wrong n_triangles/clustering. Enable with
    // spark.graft.validateGraphContracts=true during development.
    if (edges.sparkSession.conf
        .get("spark.graft.validateGraphContracts", "false").toBoolean) {
      val bad = edges.filter(col("src") >= col("dst")).count()
      val dups = edges.count() - edges.distinct().count()
      require(bad == 0 && dups == 0,
        s"graphProfile: canonical-edge contract violated " +
          s"($bad rows with src >= dst, $dups duplicate rows)")
    }
    // node-cardinality table with THREE consumers (the wedge aggregate
    // and both endpoint-degree broadcast builds) — cached so the
    // union+groupBy over the edge list runs once
    val deg = st.cache(edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg")))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    // regime counts (exact, the pageRank convention — deliberate, not
    // left to AQE estimates); the two counts are independent jobs, so
    // they run overlapped (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val nNodesF = Future(deg.count())
    val mEdges = edges.count()
    val nNodes = Await.result(nNodesF,
      scala.concurrent.duration.Duration.Inf)
    val bcN: DataFrame => DataFrame =
      if (nNodes <= broadcastNodes) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df
    // ONE degree-joined pass over the edges serves BOTH the
    // assortativity moments and the triangle close's orientation
    // (r14, guide §2.5 — previously the `ep` moment join and the
    // close's orientation join each re-scanned the edge cache through
    // their own pair of broadcast probes)
    val withDeg = st.cache(edges
      .join(bcN(deg.select(col("v").as("src"), col("dg").as("du"))), Seq("src"))
      .join(bcN(deg.select(col("v").as("dst"), col("dg").as("dv"))), Seq("dst")))
    val mo = withDeg.agg(count(lit(1)).as("m"),
      sum((col("du") + col("dv")).cast(d38)).as("sx"),
      sum((col("du") * col("du") + col("dv") * col("dv")).cast(d38))
        .as("sxx"),
      sum((col("du") * col("dv") * 2).cast(d38)).as("sxy"))
    // the triangle close reuses the profile's degree-joined pass
    // (edges are src < dst distinct by contract) — the standalone
    // triangleCounts path would re-shuffle the edge list through a
    // redundant distinct and re-aggregate degrees it already has
    val tri = triCounts.map(_.agg(sum("n_tri").as("tri3")))
      .getOrElse {
        val oriented = st.cache(orientedFrom(withDeg, "src", "dst", "du", "dv"))
        closeOriented(oriented, mEdges <= broadcastAdjEdges)
          .agg(sum("n_tri").as("tri3")) // = 3·T (3 corners each)
      }
    val m2 = (col("m") * 2).cast(d38) // directed listing size
    val numer = m2 * col("sxy") - col("sx") * col("sx")
    val denom = m2 * col("sxx") - col("sx") * col("sx")
    val row = degStats.crossJoin(mo).crossJoin(tri)
      .withColumn("numer", numer).withColumn("denom", denom)
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_wedges"),
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
