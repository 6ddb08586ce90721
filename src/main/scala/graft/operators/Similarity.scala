package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Settle
import graft.expressions.Kernels

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale posture: the query set is small and BROADCAST; the corpus
  * streams through one scan with its norms computed once (never per
  * pair). Brute force is the exactness baseline; sign-LSH prunes the
  * corpus to matching buckets before exact scoring (the 100 TB path —
  * candidates per query shrink by ~2^bits). */
object Similarity {

  private def withNorm(df: DataFrame, idName: String, vName: String,
      nName: String): DataFrame =
    df.select(col("vec_id").as(idName),
      col("embedding").cast("array<double>").as(vName))
      .withColumn(nName, VectorOps.norm(col(vName)))

  /** The (id, v, nv) normalized-corpus frame [[graphTopK]] scores
    * against, exposed so a sweep caller can settle it ONCE and hand it
    * to every arm via `normed` (the index-sharing posture). */
  def normalizedCorpus(corpus: DataFrame): DataFrame =
    withNorm(corpus, "id", "v", "nv")

  /** Cosine of two vector columns from their precomputed norms; 0.0
    * when either norm is 0. */
  private[operators] def cosOf(av: String, bv: String, an: String, bn: String): Column = {
    val nn = col(an) * col(bn)
    when(nn === 0.0, 0.0)
      .otherwise(VectorOps.dot(col(av), col(bv)) / nn)
  }

  /** The first `n` rows of an `(id, v)` frame in md5(salt || id) order
    * (ties by id), collected as (id, v): the deterministic sample every
    * sampled quantizer draws from — IVF and spherical centroids, PQ
    * codebooks, graph-ANN entry points and the k-means init. No RNG and
    * independent of layout, so an oracle replays it as
    * `ORDER BY md5(id), id LIMIT n`. A nonempty `salt` gives an
    * independent sample; "" is the plain order, md5('' || id) == md5(id). */
  private[operators] def md5Sample(df: DataFrame, n: Int,
      salt: String = ""): Array[(Long, Array[Double])] =
    df.select(col("id").cast("long").as("id"), col("v"))
      .orderBy(md5(concat(lit(salt), col("id").cast("string"))), col("id"))
      .limit(n).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The spherical sample-quantizer cell join shared by [[directedTopK]]
    * and [[Dedup.semanticDedup]]. `df`'s vectors become `(id, v, nv,
    * cell)` rows, cell = the most cosine-similar of the `nCells`
    * [[md5Sample]] centroids ([[graft.expressions.Kernels.nearestCentroidCosine]];
    * ties to the smaller centroid id, a null vector gets a null cell),
    * cached in `st` — returned as `assign`. `pairs` holds every
    * within-cell pair `id_a < id_b` with its [[cosOf]] `cos`, each
    * unordered pair once.
    *
    * Scale shape: assignment is a map-only projection (centroids ride
    * as codegen reference objects); the pairs are one equi-join on the
    * cell (AQE-splittable if a cell runs hot), quadratic only within
    * cells — SemDeDup's O(Σ|cell|²) cost model. */
  private[operators] def sphericalCellPairs(st: Settle.Scope, df: DataFrame,
      idCol: String, vecCol: String, nCells: Int): (DataFrame, DataFrame) = {
    val c = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", VectorOps.norm(col("v")))
    val cents = md5Sample(c, nCells)
    val assign = st.cache(c.withColumn("cell", element_at(
      Kernels.nearestCentroidCosine(col("v"), col("nv"), cents), 2).cast("long")))
    def side(s: String): DataFrame = assign.select(col("cell"),
      col("id").as(s"id_$s"), col("v").as(s"v$s"), col("nv").as(s"n$s"))
    val pairs = side("a").join(side("b"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosOf("va", "vb", "na", "nb").as("cos"))
    (assign, pairs)
  }

  /** Per-query top-k of `(qid, id, cos)` rows via the mergeable
    * bounded heap [[Sketches.groupTopK]] — NOT a `row_number` window.
    * The window form repartitions every candidate of a query into one
    * task (the whole corpus per query under brute force); the heap
    * keeps ≤k rows per map partition per query, so reduce-side work
    * is O(partitions × k), independent of corpus size. Ranks by cos
    * desc, id asc; rk starts at 1. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    Sketches.groupTopK(scored, Seq(col("qid")), col("cos"), col("id"), k)
      .select(col("qid"), col("id"), col("score").as("cos"), col("rk"))

  /** Exact top-k by cosine for each query vector (brute force).
    * One pass over the corpus; per-query top-k via the bounded-heap
    * [[topK]] aggregate over the (queries × corpus) scored rows —
    * only (id, score) wide. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = withNorm(corpus, "id", "v", "nv")
      .crossJoin(broadcast(withNorm(queries, "qid", "qv", "nqv")))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosOf("v", "qv", "nv", "nqv").as("cos"))
    topK(scored, k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into `nCells` cells; each query probes its `nProbe` nearest
    * centroids and scores only those cells' vectors exactly. The
    * classic Faiss-IVF layout on Spark: cell assignment is the
    * partition key, queries broadcast.
    *
    * The quantizer is deterministic hash sampling (the q31 idiom):
    * centroids = the `nCells` corpus vectors with the smallest
    * `md5(id)` ([[md5Sample]]). No training fit at all: centroid
    * selection is a TakeOrdered scan, assignment is a map-side argmin
    * through the reference-object kernel
    * [[graft.expressions.Kernels.nearestCentroid]], and the whole index
    * build is reproducible in plain SQL (which is what lets the DuckDB
    * oracle hash-verify s3). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (centroids, cells) = ivfSampledIndex(corpus, nCells)
    ivfTopKIndexed(centroids, cells, queries, k, nProbe)
  }

  /** The sampled-centroid IVF INDEX of [[ivfTopK]] — the centroid list
    * plus the cell-assigned normalized corpus — exposed so a sweep
    * caller (e10) builds ONE index (settling the assigned corpus) and
    * searches it per arm via [[ivfTopKIndexed]], instead of
    * re-collecting centroids and re-assigning cells once per arm.
    *
    * Scale shape: the centroid pick is one TakeOrdered over the corpus
    * (O(n) scan, nCells-sized heaps); the nCells×dim doubles collect to
    * the driver (KMeans `clusterCenters`' footprint) and ride into the
    * assignment kernel as codegen reference objects, so the generated
    * code is the same for every centroid set and the assignment is a
    * map-only projection at any nCells. `cell` = argmin over centroids
    * of ip(c,c) − 2·ip(v,c) (euclidean without the row-constant
    * ip(v,v)), ties to the smaller centroid id; a null vector gets a
    * null cell. */
  def ivfSampledIndex(corpus: DataFrame,
      nCells: Int): (Array[(Long, Array[Double])], DataFrame) = {
    val c = withNorm(corpus, "id", "v", "nv")
    val centroids = md5Sample(c, nCells)
    (centroids, c.withColumn("cell",
      element_at(Kernels.nearestCentroid(col("v"), centroids), 2).cast("long")))
  }

  /** Search a prebuilt [[ivfSampledIndex]]: query-probe ranking over
    * the literal centroids, exact scoring of the probed cells, top-k. */
  def ivfTopKIndexed(centroids: Array[(Long, Array[Double])],
      cells: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    // the same ip(c,c) − 2·ip(v,c) ranking as the index build, kept
    // as literals: the probe needs the nProbe nearest cells, not the
    // argmin, and the query side is small. Sorting struct(d, cid) ties
    // to the smaller centroid id.
    def cellRank(v: Column): Column = array(centroids.map { case (cid, cv) =>
      struct(
        (lit(VectorOps.selfDot(cv)) - VectorOps.dot(v, array(cv.map(lit(_)): _*)) * 2.0)
          .as("d"),
        lit(cid).as("cid"))
    }: _*)
    val q = withNorm(queries, "qid", "qv", "nqv")
    val probes = q.withColumn("cell",
        explode(transform(slice(array_sort(cellRank(col("qv"))), 1, nProbe),
          s => s.getField("cid"))))
      .select("qid", "qv", "nqv", "cell")
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosOf("v", "qv", "nv", "nqv").as("cos"))
    topK(scored, k)
  }

  /** LSH-bucketed ANN: candidates = corpus vectors sharing the query's
    * sign-LSH bucket (multi-probe over all 1- and 2-bit flips keeps
    * recall up — each probe is a cheap bucket lookup), then exact
    * cosine on candidates only. Probing Hamming ≤ 2 visits
    * 1 + b + b(b-1)/2 of the 2^b buckets: ~14% of the corpus at b=8,
    * against brute force's 100%. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame = {
    val planes = VectorOps.hyperplanes(bits, dim)
    val c = withNorm(corpus, "id", "v", "nv")
      .withColumn("bucket", VectorOps.signBucket(col("v"), planes))
    val flips: Seq[Long] = 0L +:
      ((0 until bits).map(i => 1L << i) ++
        (for (i <- 0 until bits; j <- (i + 1) until bits) yield (1L << i) | (1L << j)))
    val q = withNorm(queries, "qid", "qv", "nqv")
      .withColumn("qbucket", VectorOps.signBucket(col("qv"), planes))
      .withColumn("bucket", explode(array(
        flips.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
    // no distinct: the probe masks are distinct XOR values and each
    // corpus vector lives in exactly one bucket, so a (qid, id) pair
    // matches at most one probe row — dedup would be a pure extra
    // exchange. (If probe sets ever overlap, dedup candidate (qid, id)
    // BEFORE scoring, not the scored rows.)
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosOf("v", "qv", "nv", "nqv").as("cos"))
    topK(scored, k)
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", public literature): the vector is split
    * into `m` subvectors, each encoded as the index of its nearest
    * codeword in a per-subspace codebook, so a 64-dim double vector
    * compresses to `m` small ints (~128× storage). Queries score the
    * whole compressed corpus with asymmetric distance (ADC): a
    * per-query lookup table of query-subvector × codeword dot products,
    * so each corpus row costs m array lookups + adds instead of a
    * 64-dim dot. The approximate top `rerank`·k candidates are then
    * re-ranked by exact cosine — the standard PQ + re-rank pipeline.
    *
    * Codebooks use the same deterministic md5-order sample as the IVF
    * quantizer: the `ks` sampled vectors' j-th subvectors form
    * subspace j's codebook. No training fit; the whole index is
    * replayable in plain SQL (which is what lets the oracle hash-verify
    * s5).
    *
    * Scale shape: codebooks are m·ks·(dim/m) doubles — reference
    * objects of the encoding kernel and literals of the per-query LUT,
    * no join; encoding is a map-side projection; ADC scoring is
    * one scan of the compressed corpus against broadcast LUTs; both
    * top-k stages run on the mergeable bounded heap [[Sketches.groupTopK]]
    * (window-free); the exact re-rank touches only rerank·k·|queries|
    * full vectors. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ks: Int = 16, rerank: Int = 4): DataFrame = Settle.scope("pqTopK") { st =>
    val c = withNorm(corpus, "id", "v", "nv")
    val sample = md5Sample(c, ks).map(_._2)
    require(sample.nonEmpty, "pqTopK: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m=$m")
    val sub = dim / m
    // books(j)(c) = codeword c of subspace j; ipcc = its self inner
    // product (VectorOps.selfDot: ArrayDotProduct's and DuckDB
    // list_inner_product's left-to-right order)
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => sample.map(_.slice(j * sub, (j + 1) * sub)))
    val ipcc: Array[Array[Double]] = books.map(_.map(VectorOps.selfDot))
    def subv(v: Column, j: Int): Column = slice(v, j * sub + 1, sub)
    def cwLit(j: Int, cIdx: Int): Column = array(books(j)(cIdx).map(lit(_)): _*)
    // encode subspace j: argmin_c ipcc - 2·ip(x_j, cw) (euclidean sans
    // the constant ip(x_j,x_j)), ties to the smaller codeword index
    def codeOf(v: Column, j: Int): Column = element_at(Kernels.nearestCentroid(subv(v, j),
      books(j).zipWithIndex.map { case (cw, cIdx) => (cIdx.toLong, cw) }), 2).cast("int")
    val encoded = st.cache(c
      .withColumn("codes", array((0 until m).map(j => codeOf(col("v"), j)): _*))
      // reconstruction norm² = Σ_j ip(cw_code, cw_code), j ascending
      .withColumn("rn2", (0 until m).map(j =>
          element_at(array(ipcc(j).map(lit(_)): _*), col("codes")(j) + 1))
        .reduce(_ + _)))
    // per-query LUT: lut(j)(c) = ip(q_j, cw_{j,c}); tiny and broadcast
    val q = withNorm(queries, "qid", "qv", "nqv")
      .withColumn("lut", array((0 until m).map(j =>
        array(books(j).indices.map(cIdx =>
          VectorOps.dot(subv(col("qv"), j), cwLit(j, cIdx))): _*)): _*))
    val adc = (0 until m).map(j =>
        element_at(element_at(col("lut"), j + 1), col("codes")(j) + 1))
      .reduce(_ + _)
    val approx = encoded.select("id", "codes", "rn2")
      .crossJoin(broadcast(q.select("qid", "lut", "nqv")))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        when(sqrt(col("rn2")) * col("nqv") === 0.0, 0.0)
          .otherwise(adc / (sqrt(col("rn2")) * col("nqv"))).as("cos"))
    val cand = topK(approx, rerank * k).select("qid", "id")
    val exact = cand
      .join(encoded.select(col("id"), col("v"), col("nv")), Seq("id"))
      .join(broadcast(q.select(col("qid"), col("qv"), col("nqv"))), Seq("qid"))
      .select(col("qid"), col("id"), cosOf("v", "qv", "nv", "nqv").as("cos"))
    // materialize the (tiny: |queries|·k rows) result eagerly so the
    // scope releases the corpus-sized `encoded` cache on return —
    // otherwise every pqTopK call in a long-lived session would keep
    // its encoded blocks in the block manager
    st.settle(topK(exact, k), "rerank")
  }

  /** Approximate mutual-kNN graph over an embedding corpus — the
    * neighborhood structure behind graph-based dedup, label
    * propagation, and hubness/quality analysis. Index = the
    * deterministic spherical sample quantizer ([[Dedup.semanticDedup]]
    * / s3's md5-order centroid pick, fully SQL-replayable); candidates
    * are same-cell pairs only; per-node top-k runs through the
    * mergeable bounded heap [[Sketches.groupTopK]] (cos desc,
    * id asc); an edge survives iff EACH endpoint ranks the other in
    * its own top-k (mutual symmetrization — the standard kNN-graph
    * noise filter).
    *
    * Scale shape: centroid assignment is a map-side argmax through the
    * cosine nearest-centroid kernel ([[sphericalCellPairs]]); candidate
    * generation is cell-partitioned (AQE skew-splittable) and quadratic
    * only WITHIN cells — SemDeDup's O(Σ|cell|²) cost model, bounded by
    * nCells ∝ corpus size; reduce state is O(nodes × k); the mutual
    * join carries only (node, node, rank) triples. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16): DataFrame = {
    val ranked = directedTopK(corpus, idCol, vecCol, k, nCells)
    ranked.as("f")
      .join(ranked.as("r"),
        col("f.qid") === col("r.id") && col("f.id") === col("r.qid"))
      .filter(col("f.qid") < col("f.id"))
      .select(col("f.qid").as("id_a"), col("f.id").as("id_b"),
        round(col("f.cos"), 6).as("cos"),
        col("f.rk").as("rk_ab"), col("r.rk").as("rk_ba"))
  }

  /** The directed half of [[knnGraph]]: every node's top-`k` same-cell
    * neighbors as (qid, id, cos, rk) — BEFORE mutual symmetrization.
    * Materialized (eager settle) at O(nodes × k) rows so the
    * cell-pair generation runs exactly once however many consumers
    * ([[knnGraph]]'s mutual join reads it twice; [[knnHubness]] folds
    * it into in-degrees). */
  def directedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16): DataFrame = Settle.scope("directedTopK") { st =>
    val (_, half) = sphericalCellPairs(st, corpus, idCol, vecCol, nCells)
    // each unordered pair scored once, then oriented both ways for the
    // per-node heaps
    val directed = half.select(col("id_a").as("qid"), col("id_b").as("id"),
        col("cos"))
      .union(half.select(col("id_b").as("qid"), col("id_a").as("id"),
        col("cos")))
    st.settle(topK(directed, k), "topk")
  }

  /** Graph-based ANN: fixed-horizon beam search over the [[knnGraph]]
    * family's directed kNN index — the NSW/HNSW search pattern
    * (Malkov & Yashunin 2016) that dominates production vector search,
    * expressed as bounded relational hops instead of a pointer-chasing
    * walk. The index is [[directedTopK]]'s proven edge list (each node
    * → its `graphK` same-cell nearest neighbors); entry points are the
    * same md5-order deterministic sample as the IVF/PQ quantizers; each
    * hop scores the candidate set exactly, keeps the top-`beam` nodes
    * per query, and expands their out-edges. `hops` is FIXED (not
    * converge-until-done), so the whole search is `hops` joins — fully
    * plannable, and replayable as unrolled SQL (which is what lets the
    * oracle hash-verify s7).
    *
    * Contract details the oracle mirrors: candidate sets are DISTINCT
    * (qid, id) pairs (a node reached twice scores once); beams may
    * contain the query itself when it is reachable (self-similarity 1.0
    * legitimately steers the walk); only the FINAL top-k excludes
    * id == qid (the s1/s2/s3 contract); all beam comparisons run on
    * unrounded doubles (cos desc, id asc), identical IEEE sequences in
    * both engines.
    *
    * Scale shape (100 TB): the index is O(n·graphK) (id, id) longs —
    * built once, reused across query batches; per hop the beam is
    * |queries|·beam rows BROADCAST against the edge list and the
    * candidate set is |queries|·(nCells + hops·beam·graphK) ids
    * broadcast against the corpus scan, so corpus vectors are touched
    * only for candidate ids and the full-corpus cost is the index
    * build, never the search. */
  def graphTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      graphK: Int = 5, nCells: Int = 16, beam: Int = 4,
      hops: Int = 2, index: Option[DataFrame] = None,
      normed: Option[DataFrame] = None): DataFrame = Settle.scope("graphTopK") { st =>
    // `normed`: a caller-settled (id, v, nv) corpus shared by the e21
    // arms (arms caching one plan share an entry its creator releases)
    val c = normed.getOrElse(st.cache(withNorm(corpus, "id", "v", "nv")))
    // entry points: the deterministic md5-order sample (the s3/s5
    // quantizer pick) — real corpus ids, so they are graph nodes
    val seeds: Array[Long] = md5Sample(c, nCells).map(_._1)
    // a caller sweeping search parameters (e21) passes the edge list
    // as (node, nbr) once — the production posture: build the index
    // one time, search it many times
    val graph = index.getOrElse(
      directedTopK(corpus, "vec_id", "embedding", graphK, nCells)
        .select(col("qid").as("node"), col("id").as("nbr")))
    val q = withNorm(queries, "qid", "qv", "nqv")
    // exact cosine of a (qid, id) candidate set — candidates broadcast,
    // corpus streams
    def score(cand: DataFrame): DataFrame =
      c.join(broadcast(cand), Seq("id"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("id"), cosOf("v", "qv", "nv", "nqv").as("cos"))
    var cand = q.select(col("qid"))
      .withColumn("id", explode(array(seeds.map(lit(_)): _*)))
    var h = 0
    while (h < hops) {
      // settle the hop's candidate set (|queries|·(nCells+h·beam·graphK)
      // rows — tiny): unsettled, hop h's score() re-embedded hop h−1's
      // whole score+topK subplan, and the final DAG replayed every
      // earlier hop once per reference (the e10/e21 ground-truth
      // lesson, guide §2.5)
      val bm = topK(score(cand), beam).select(col("qid"), col("id"))
      val next = graph
        .join(broadcast(bm.withColumnRenamed("id", "node")), Seq("node"))
        .select(col("qid"), col("nbr").as("id"))
      h += 1
      cand = st.settle(cand.union(next).distinct(), s"hop-$h")
    }
    st.settle(topK(score(cand).filter(col("id") =!= col("qid")), k), "rank")
  }

  /** kNN hubness audit (Radovanović et al. 2010, JMLR): the
    * k-occurrence distribution N_k(x) = how many nodes list x in THEIR
    * directed top-k ([[directedTopK]] — pre-mutual, where hubness
    * lives), as an in-degree histogram plus its corpus-wide moment
    * summary. High positive skew = hub pathology (a few vectors appear
    * in everyone's neighbor lists — the high-dimensional concentration
    * symptom that silently corrupts kNN-based dedup/search quality);
    * antihubs (in-degree 0) are the unreachable tail. The operational
    * read BEFORE trusting s2/s3/e6 neighborhoods at scale.
    *
    * Output: one row per distinct in-degree (0 included — vectors
    * nobody lists) with its node count and share, plus the moment
    * summary (mean/sd/skew) repeated via a 1-row broadcast cross.
    * Exactness: in-degrees are exact integers; moment sums Σd, Σd²,
    * Σd³ stage through DECIMAL(38,0) (overflow-safe however large the
    * graph) and surface as int64; mean/sd/skew derive through a PINNED
    * sequence of int64→double casts and IEEE ops (the x38 device), so
    * both engines replay bit-for-bit.
    *
    * Scale shape: one groupBy(id) count over the O(nodes × k) directed
    * edge list, a left join against the id spine for the zeros, a
    * degree-cardinality histogram, and a 4-sum moment aggregate —
    * nothing beyond the edge list is ever corpus-quadratic. */
  def knnHubness(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val ranked = directedTopK(corpus, idCol, vecCol, k, nCells)
    val deg = corpus.select(col(idCol).cast("long").as("id"))
      .join(ranked.groupBy(col("id")).agg(count(lit(1)).as("d0")),
        Seq("id"), "left")
      .select(coalesce(col("d0"), lit(0L)).as("d"))
    val hist = deg.groupBy("d").agg(count(lit(1)).as("n_vecs"))
    val dd = col("d").cast(DecimalType(13, 0))
    val mom = deg.agg(count(lit(1)).as("n"),
      sum(col("d")).as("s1"),
      sum(dd * dd).cast(DecimalType(38, 0)).as("s2"),
      sum(dd * dd * dd).cast(DecimalType(38, 0)).as("s3"))
    def D(c: Column) = c.cast(DoubleType)
    val withM = hist.crossJoin(broadcast(mom))
      .withColumn("mean_deg", D(col("s1")) / D(col("n")))
      .withColumn("e2", D(col("s2").cast("long")) / D(col("n")))
      .withColumn("e3", D(col("s3").cast("long")) / D(col("n")))
      .withColumn("vr",
        col("e2") - col("mean_deg") * col("mean_deg"))
      .withColumn("m3",
        col("e3") - lit(3.0) * col("mean_deg") * col("e2")
          + lit(2.0) * col("mean_deg") * col("mean_deg") * col("mean_deg"))
    withM.select(col("d").as("in_deg"), col("n_vecs"),
        (D(col("n_vecs")) / D(col("n"))).as("share"),
        col("mean_deg"),
        when(col("vr") > 0.0, sqrt(col("vr"))).as("sd_deg"),
        when(col("vr") > 0.0,
          col("m3") / (sqrt(col("vr")) * col("vr"))).as("skew_deg"))
      .orderBy("in_deg")
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017, Scientific
    * Reports): the MLE d̂ = N / Σ ln μ over per-point ratios
    * μ = d₂/d₁ of second- to first-nearest-neighbor distances — here
    * cosine distances (1 − cos) from [[directedTopK]]'s within-cell
    * top-2, the same replayable index e6/e17 certify. The
    * embedding-geometry health read beside e13's diversity moments: an
    * intrinsic dimension far below the ambient width means the
    * embedder collapsed the corpus onto a thin manifold (curse-of-
    * dimensionality symptoms like e17's hubness follow from HIGH
    * intrinsic dimension, not ambient width — the two audits are read
    * together).
    *
    * Points are excluded with an accounted reason, never silently:
    * `n_dup` (d₁ ≤ 0 — an exact/near-identical twin makes μ
    * undefined), `n_short` (fewer than 2 same-cell neighbors,
    * including cell-isolated vectors). Per-point ln μ terms round to
    * 6 dp and scale to exact integer micros through the decimal hop
    * (the x38 device), so the corpus sum is one exact BIGINT and d̂
    * derives through two pinned IEEE divisions both engines replay.
    *
    * Scale shape: the e6 edge-list posture (nodes × 2 rows shuffle,
    * vectors only pair within cells), a spine left-join for the
    * exclusion census, ONE global 5-sum aggregate with map-side
    * partials; output is a single row. */
  def twoNnIntrinsicDim(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val ranked = directedTopK(corpus, idCol, vecCol, k = 2, nCells)
    val p = ranked.groupBy("qid").agg(
      max(when(col("rk") === 1, col("cos"))).as("cos1"),
      max(when(col("rk") === 2, col("cos"))).as("cos2"),
      count(lit(1)).as("nn"))
    val full = corpus.select(col(idCol).cast("long").as("qid"))
      .join(p, Seq("qid"), "left")
      .withColumn("cls",
        when(col("nn").isNull || col("nn") < 2, "short")
          .when(lit(1.0) - col("cos1") <= 0.0, "dup")
          .otherwise("used"))
    val micros = (round(log((lit(1.0) - col("cos2")) /
        (lit(1.0) - col("cos1"))), 6)
      .cast(DecimalType(12, 6)) * 1000000).cast(LongType)
    val ag = full
      .withColumn("t", when(col("cls") === "used", micros).otherwise(lit(0L)))
      .agg(count(lit(1)).as("n_points"),
        count(when(col("cls") === "used", 1)).as("n_used"),
        count(when(col("cls") === "dup", 1)).as("n_dup"),
        count(when(col("cls") === "short", 1)).as("n_short"),
        sum(col("t")).as("sum_lnmu_e6"))
    def D(c: Column) = c.cast(DoubleType)
    ag.select(col("n_points"), col("n_used"), col("n_dup"),
      col("n_short"), col("sum_lnmu_e6"),
      when(col("sum_lnmu_e6") > 0L,
        D(col("n_used")) / (D(col("sum_lnmu_e6")) / lit(1000000.0)))
        .as("id_twonn"))
  }
}
