package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.expressions.Kernels

/** Embedding-corpus quality analytics: the vector-side counterpart of
  * the text quality signals (x1–x8) — flag vectors that don't belong to
  * their own cluster/label, the standard mislabeled-or-garbage filter a
  * training pipeline runs over an embedded corpus before sampling.
  */
object EmbedStats {

  /** Cosine of every vector to its OWN label's centroid, plus an
    * outlier flag (`cos < threshold`): vectors anti-correlated with
    * their cluster are mislabeled or noise.
    *
    * Determinism: the centroid's components are rounded to 6 decimals
    * before the cosine, so the downstream dot/norm arithmetic is
    * bit-reproducible regardless of the float-summation order inside
    * the mean aggregate (partial-merge order differs run to run at
    * cluster scale; a last-ulp wobble must not flip an `is_outlier`
    * near the threshold).
    *
    * Scale shape: one mergeable [[VectorOps.meanPool]] aggregate keyed
    * on the label (label-cardinality result — tiny), broadcast back,
    * then a single map pass: no corpus shuffle at any point. */
  def centroidOutliers(df: DataFrame, labelCol: String, vecCol: String,
      idCol: String, threshold: Double = 0.0): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = v.groupBy("label")
      .agg(VectorOps.meanPool(col("v")).as("raw"))
      .select(col("label"), transform(col("raw"), x => round(x, 6)).as("cent"))
    v.join(broadcast(cents), Seq("label"))
      .withColumn("nv", VectorOps.norm(col("v")))
      .withColumn("nc", VectorOps.norm(col("cent")))
      .select(col("id"), col("label"),
        round(when(col("nv") * col("nc") === 0.0, 0.0)
            .otherwise(VectorOps.dot(col("v"), col("cent")) /
              (col("nv") * col("nc"))), 6)
          .as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < threshold)
  }

  /** PCA projection onto the top-2 principal components, fit by power
    * iteration with one deflation step — the classic whitening /
    * dimensionality-reduction pass a training pipeline runs after [[
    * dimCovariance]] says dimensions are redundant.
    *
    * Bit-reproducibility (the whole design): the covariance is computed
    * on a 1e-6 integer grid — q = floor(x·10⁶) — whose sums are EXACT
    * decimals, so both engines see the identical covariance doubles (at
    * these corpus sizes the sums are < 2⁵³ and the double cast is even
    * rounding-free); the power iteration then runs the identical IEEE
    * sequence on both sides (strict left-to-right inner products — the
    * [[VectorOps.selfDot]] / list_inner_product contract — fixed 0.25
    * start, fixed iteration count).
    *
    * Scale shape: ONE wide aggregation pass (dim + dim(dim+1)/2 exact
    * decimal sums with map-side partials) collects a single moment row
    * — the only driver-side state is the dim×dim matrix (model state,
    * the k-means-centroids precedent); the projection is a broadcast
    * literal-vector dot, a pure map pass. `dim` defaults to 16 (the
    * leading block) to keep the oracle replay tractable; the plan shape
    * is dim-independent. */
  def pcaPowerProject(df: DataFrame, idCols: Seq[String], vecCol: String,
      dim: Int = 16, iters: Int = 30): DataFrame = {
    val xs = (0 until dim).map(i => element_at(col(vecCol), i + 1).cast("double"))
    val (_, v1, lam1, v2, lam2) = pcaFit(df, vecCol, dim, iters)
    val xv = array(xs: _*)
    df.select(idCols.map(col) ++ Seq(
      VectorOps.dot(xv, array(v1.map(lit(_)): _*)).as("p1"),
      VectorOps.dot(xv, array(v2.map(lit(_)): _*)).as("p2"),
      lit(lam1).as("lam1"), lit(lam2).as("lam2")): _*)
  }

  /** The fit half of [[pcaPowerProject]] (identical numeric sequence,
    * extracted so e14 can read the covariance trace): returns
    * (covariance, v1, λ1, v2, λ2). */
  private[graft] def pcaFit(df: DataFrame, vecCol: String,
      dim: Int, iters: Int): (Array[Array[Double]], Array[Double], Double,
      Array[Double], Double) = {
    val xs = (0 until dim).map(i => element_at(col(vecCol), i + 1).cast("double"))
    val qdf = df.select((0 until dim).map(i =>
      floor(xs(i) * 1000000.0).as(s"q$i")): _*)
    val aggCols: Seq[Column] =
      count(lit(1)).as("n") +:
        ((0 until dim).map(i =>
          sum(col(s"q$i").cast(DecimalType(28, 0))).cast("double").as(s"sq$i")) ++
          (for { i <- 0 until dim; j <- i until dim } yield
            sum((col(s"q$i") * col(s"q$j")).cast(DecimalType(38, 0)))
              .cast("double").as(s"sqq_${i}_$j")))
    val r = qdf.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val n = r.getLong(0).toDouble
    val sq = Array.tabulate(dim)(i => r.getDouble(1 + i))
    val idx = (for { i <- 0 until dim; j <- i until dim } yield (i, j))
      .zipWithIndex.toMap
    def sqq(i: Int, j: Int): Double =
      r.getDouble(1 + dim + idx((math.min(i, j), math.max(i, j))))
    val c = Array.tabulate(dim, dim)((i, j) =>
      (sqq(i, j) - sq(i) * sq(j) / n) / n)
    def dotl(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < dim) { s += a(k) * b(k); k += 1 }
      s
    }
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      m.map(row => dotl(row, v))
    def topEig(m: Array[Array[Double]]): (Array[Double], Double) = {
      var v = Array.fill(dim)(0.25)
      var it = 0
      while (it < iters) {
        val w = matvec(m, v)
        val nm = math.sqrt(dotl(w, w))
        v = w.map(_ / nm)
        it += 1
      }
      (v, dotl(v, matvec(m, v)))
    }
    val (v1, lam1) = topEig(c)
    val c2 = Array.tabulate(dim, dim)((i, j) =>
      c(i)(j) - lam1 * v1(i) * v1(j))
    val (v2, lam2) = topEig(c2)
    (c, v1, lam1, v2, lam2)
  }

  /** Explained-variance decomposition of the [[pcaFit]] spectrum: the
    * "was the projection worth it" read — λ1/λ2 against the total
    * variance (trace of the covariance, the free byproduct of the SAME
    * single-pass exact moment aggregation e5 already runs; fitting
    * twice would be the bug). Three rows: pc1, pc2, residual. All
    * arithmetic is the pinned left-associated IEEE sequence the oracle
    * replays (trace = Σ c_ii in index order; residual =
    * trace − λ1 − λ2). Scale shape: identical to e5 — one wide
    * aggregation, dim×dim driver model state, zero extra passes. */
  def pcaExplainedVariance(df: DataFrame, vecCol: String,
      dim: Int = 16, iters: Int = 30): DataFrame = {
    val (c, _, lam1, _, lam2) = pcaFit(df, vecCol, dim, iters)
    var trace = 0.0
    var i = 0
    while (i < dim) { trace += c(i)(i); i += 1 }
    val resid = trace - lam1 - lam2
    val spark = df.sparkSession
    import spark.implicits._
    Seq(
      ("pc1", lam1, lam1 / trace, lam1 / trace),
      ("pc2", lam2, lam2 / trace, (lam1 + lam2) / trace),
      ("residual", resid, resid / trace, 1.0))
      .toDF("component", "lam", "share", "cum_share")
  }

  /** Dimension-covariance matrix of an embedding corpus (whitening /
    * PCA prep, redundant-dimension detection): cov(i, j) =
    * E[x_i·x_j] − E[x_i]·E[x_j] for every pair i ≤ j, long-form.
    *
    * ONE aggregation pass ([[pairMoments]]): each row contributes its
    * upper-triangular outer product (fused native loop — a Column
    * formulation would be n(n+1)/2 separate plan nodes) and the raw
    * vector. Nothing corpus-sized ever shuffles — only k-partial sums
    * per partition. */
  def dimCovariance(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    pairMoments(df, vecCol, dim)
      .select(col("dim_i"), col("dim_j"),
        // + 0.0 folds IEEE −0.0 to +0.0 (string-compared oracles)
        (round(col("exy") -
          element_at(col("mu"), col("dim_i") + 1) *
          element_at(col("mu"), col("dim_j") + 1), 6) + 0.0).as("cov"))

  /** The moment rows [[dimCovariance]] and [[dimCorrelation]] read: one
    * row per dimension pair i ≤ j with `dim_i`, `dim_j`, `mu` = E[x],
    * `m2` = the upper-triangular E[x_i·x_j] array (row-major) and `exy`
    * = its entry for (dim_i, dim_j). One aggregation pass — the raw
    * vector and its [[graft.expressions.Kernels.upperTriOuter]] product
    * through the mergeable [[VectorOps.meanPool]] — then the single
    * moment row explodes against a broadcast (pos → i, j) map. */
  private def pairMoments(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = df.select(col(vecCol).cast("array<double>").as("v"))
      .agg(VectorOps.meanPool(col("v")).as("mu"),
        VectorOps.meanPool(Kernels.upperTriOuter(col("v"))).as("m2"))
    val pairs = (for (i <- 0 until dim; j <- i until dim) yield (i, j))
      .zipWithIndex.map { case ((i, j), k) => (k, i, j) }
      .toDF("pos", "dim_i", "dim_j")
    m.select(col("mu"), col("m2"), posexplode(col("m2")).as(Seq("pos", "exy")))
      .join(broadcast(pairs), Seq("pos"))
  }

  /** Effective rank of the embedding space — the participation ratio
    * tr(C)²/tr(C²) of the dimension covariance (the RankMe-style
    * capacity-usage read): how many dimensions the corpus ACTUALLY
    * spreads over, without an eigendecomposition (tr(C²) = ΣC_ij² is
    * basis-free — ‖C‖²_F — so the full spectrum is never needed).
    * eff_rank ≈ n_dims = isotropic use; eff_rank ≪ n_dims = the
    * embedder collapsed onto few directions and every cosine-based
    * operator (d5/d10/s1–s5) is discriminating in a thin subspace.
    * Read beside e14 (top-2 shares), e13 (diversity), e18 (intrinsic
    * dim — manifold, not linear-span, width).
    *
    * Exactness: built on [[dimCovariance]]'s proven round-6 entries,
    * lifted to integer micros via the decimal hop (x38 device); the
    * trace and Frobenius sums are plain BIGINT (bounded by dim² and
    * the ±1-ish entry range — ~4·10¹⁶ at dim 64, corpus-size-
    * independent); eff_rank = two int64→double casts, one product,
    * one division, all pinned IEEE; the /n_dims share divides by a
    * power of two at dim 64 (exact scaling).
    *
    * Scale shape: the identical ONE-pass moment aggregation as e4
    * (raw vector + upper-tri outer product through the mergeable
    * mean) followed by a 2080-row bounded aggregate; single-row
    * output. */
  def effectiveRank(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val cov = dimCovariance(df, vecCol, dim)
    val c6 = (col("cov").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType)
    val diag = col("dim_i") === col("dim_j")
    val ag = cov.agg(
      sum(when(diag, c6).otherwise(lit(0L))).as("tr_e6"),
      sum(c6 * c6 * when(diag, lit(1L)).otherwise(lit(2L)))
        .as("fro2_e12"))
    def D(c: Column) = c.cast(DoubleType)
    val er = D(col("tr_e6")) * D(col("tr_e6")) / D(col("fro2_e12"))
    ag.select(lit(dim).as("n_dims"), col("tr_e6"), col("fro2_e12"),
      (D(col("tr_e6")) / lit(1000000.0)).as("trace"),
      when(col("fro2_e12") > 0L, er).as("eff_rank"),
      when(col("fro2_e12") > 0L, er / lit(dim.toDouble))
        .as("eff_rank_frac"))
  }

  /** Pearson correlation matrix of the embedding dimensions (the
    * normalized [[dimCovariance]] — the standard redundant-dimension /
    * collinearity report): corr(i, j) = cov(i, j) / √(var_i · var_j)
    * for every pair i ≤ j, long-form; NULL when either variance is 0.
    *
    * The SAME single aggregation pass as dimCovariance (raw vector +
    * upper-tri outer product through the mergeable mean) — variances
    * are just the diagonal entries of the moment array, picked by
    * index arithmetic (pos(i,i) = i·dim − i(i−1)/2), so normalizing
    * costs zero extra passes, shuffles, or joins. Determinism: moments
    * are exact on the corpus's integer grid; the one division and √
    * run the identical IEEE sequence in the oracle, washed by the
    * 6-dp round. */
  def dimCorrelation(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    def mean(i: Column): Column = element_at(col("mu"), i + 1)
    // diagonal moment E[x_i²] at pos(i,i) = i·dim − i(i−1)/2 (0-based);
    // Column `/` is double division, but i(i−1) is even so it is exact
    // — cast restores the integral index type element_at needs
    def diag(i: Column): Column = element_at(col("m2"),
      (i * dim - (i * (i - 1)) / 2 + 1).cast("int"))
    def variance(i: Column): Column = diag(i) - mean(i) * mean(i)
    pairMoments(df, vecCol, dim)
      .select(col("dim_i"), col("dim_j"),
        (round(when(variance(col("dim_i")) * variance(col("dim_j")) <= 0.0,
            lit(null).cast("double"))
          .otherwise((col("exy") -
              mean(col("dim_i")) * mean(col("dim_j"))) /
            sqrt(variance(col("dim_i")) * variance(col("dim_j")))),
          6) + 0.0).as("corr"))
  }

  /** Embedding-corpus diversity: EXACT mean pairwise squared Euclidean
    * distance per label slice (and the whole corpus), WITHOUT any
    * pairwise pass — the moment identity
    * Σ_{i≠j}‖x_i−x_j‖² = 2·(n·Σ‖x_i‖² − ‖Σx_i‖²) turns the O(n²)
    * pairwise sum into two first-moment sums. The mixture-design read:
    * a slice whose mean pairwise distance collapses is mode-collapsed
    * or duplicated; a slice far above the rest is noise.
    *
    * Bit-reproducibility (the pcaPowerProject grid device): every
    * component is quantized to the 1e-6 integer grid q = ⌊x·10⁶⌋ and
    * all moments (Σq_d, Σ‖q‖², then n·S2 − Σ_d(Σq_d)²) are EXACT
    * decimals — partition-order-free — with ONE terminal double
    * division sequence per row that the oracle replays identically.
    *
    * Scale shape: one wide groupBy(label) aggregation (1 + dim + 1
    * decimal sums, map-side partials, no explode); the "all" row folds
    * the label rows (label-cardinality input). No corpus pairwise
    * anything, no collect. */
  def diversityByLabel(df: DataFrame, labelCol: String, vecCol: String,
      dim: Int = 64): DataFrame =
    diversityFromMoments(diversityMoments(df, labelCol, vecCol, dim), dim)

  /** The mergeable half of [[diversityByLabel]]: per-label exact
    * decimal moment rows (label, n, s0..s{dim-1}, ssq). A SEMIGROUP —
    * two moment tables for the same labels fold by column-wise decimal
    * addition with no error, which is exactly the streaming state
    * update (S23). */
  def diversityMoments(df: DataFrame, labelCol: String, vecCol: String,
      dim: Int): DataFrame = {
    val xs = (0 until dim).map(i =>
      element_at(col(vecCol), i + 1).cast("double"))
    val q = df.select(col(labelCol).cast("string").as("label") +:
      (0 until dim).map(i =>
        floor(xs(i) * 1000000.0).cast(DecimalType(38, 0)).as(s"q$i")): _*)
    val aggs: Seq[Column] =
      count(lit(1)).cast(DecimalType(38, 0)).as("n") +:
        (0 until dim).map(i => sum(col(s"q$i")).as(s"s$i")) :+
        sum((0 until dim).map(i => col(s"q$i") * col(s"q$i"))
          .reduce(_ + _)).as("ssq")
    q.groupBy("label").agg(aggs.head, aggs.tail: _*)
  }

  /** Column-wise decimal re-fold of two (or more) moment tables — the
    * S23 state merge. Input must be in [[diversityMoments]] layout. */
  def mergeMoments(moments: DataFrame, dim: Int): DataFrame = {
    val aggs: Seq[Column] =
      sum("n").as("n") +:
        (0 until dim).map(i => sum(col(s"s$i")).as(s"s$i")) :+
        sum("ssq").as("ssq")
    moments.groupBy("label").agg(aggs.head, aggs.tail: _*)
  }

  /** Embedding ANISOTROPY — the mean pairwise cosine between
    * unit-normalized vectors over the whole corpus (the Ethayarajh
    * 2019 contextual-anisotropy baseline / Mu & Viswanath 2018
    * common-direction bias): an isotropic embedder reads ≈ 0; a high
    * mean cosine means every vector shares a dominant direction and
    * cosine similarity loses discriminative range — the calibration
    * read taken BEFORE trusting any threshold in d5/d10/s1–s5. Read
    * beside e19 (linear span) and e18 (manifold width): those say how
    * many directions are used, this says how much of every cosine is
    * a constant offset. Also emits the mean original L2 norm (norm
    * inflation is the usual confounder when anisotropy moves between
    * snapshots).
    *
    * NO pairwise pass: with û_i the unit vectors,
    * Σ_{i≠j} û_i·û_j = ‖Σû‖² − Σ‖û‖², so the whole statistic needs
    * only the per-dimension sums and one sum of squared norms.
    *
    * Determinism contract: each row's norm² is the left-to-right IEEE
    * fold of exact float×float products (single-precision inputs
    * square exactly in double); sqrt is correctly rounded; each unit
    * component then lands on the 1e-6 integer grid (⌊·10⁶⌋ — the
    * diversityMoments device), so all corpus sums are EXACT decimals,
    * order-free, and the terminal fold/divisions are one pinned IEEE
    * sequence the oracle replays term for term. The statistic is thus
    * defined ON the grid (quantization bias ≤ ~dim·10⁻⁶ — inside the
    * 6-dp render); zero vectors are excluded (n_used counts the rest).
    *
    * Scale shape: one global aggregation of 2 + dim decimal sums
    * (map-side partials, no explode, no join); single-row output.
    * DECIMAL(38,0) sums hold to ~10²⁹ rows — never the constraint. */
  def anisotropy(df: DataFrame, vecCol: String, dim: Int = 64): DataFrame =
    anisotropyFromMoments(anisotropyMoments(df, vecCol, dim), dim)

  /** The mergeable half of [[anisotropy]]: ONE exact decimal moment
    * row (n, Σ⌊norm·10⁶⌋, per-dim Σ⌊û_d·10⁶⌋, Σ‖û‖²-on-the-grid). A
    * semigroup under column-wise decimal addition — the S30 streaming
    * state, dim+2 numbers forever regardless of stream length. */
  def anisotropyMoments(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val xs = (0 until dim).map(i =>
      element_at(col(vecCol), i + 1).cast("double"))
    val norm2 = xs.map(x => x * x).reduce(_ + _)
    // norm² is STAGED through its own projection so the 64 unit-
    // component columns below reference `nrm` as an attribute instead
    // of each inlining the full 64-term fold: the single-select form
    // put the ~130-node norm subtree inside every output column
    // (~8.5k-node tree), and Catalyst's analyze/optimize walks — not
    // the executors — dominated the query's wall time (probe: 0.3 s
    // task time vs ~3 s driver). CollapseProject cannot re-inline: the
    // alias is non-cheap and referenced 65 times (the x17/x44 HOF
    // lesson, applied to projections). Arithmetic is IDENTICAL —
    // sqrt(norm2) and xs(i)/nrm compute the same IEEE sequence.
    val staged = df
      .select(col(vecCol).as("_v"), norm2.as("_n2"))
      .filter(col("_n2") > 0.0)
      .select(col("_v"), sqrt(col("_n2")).as("_nrm"))
    val sxs = (0 until dim).map(i =>
      element_at(col("_v"), i + 1).cast("double"))
    // unit components on the 1e-6 grid as LONG (|û|·10⁶ ≤ 10⁶, row
    // sum-of-squares ≤ dim·10¹² — int64-safe per ROW); corpus sums
    // go through DECIMAL(38,0) so no row count can overflow them
    val q = staged.select(
      floor(col("_nrm") * 1000000.0).cast(DecimalType(38, 0)).as("qn") +:
        (0 until dim).map(i =>
          floor(sxs(i) / col("_nrm") * 1000000.0).cast("long").as(s"u$i")): _*)
    val rowSS = (0 until dim).map(i => col(s"u$i") * col(s"u$i"))
      .reduce(_ + _)
    val aggs: Seq[Column] =
      count(lit(1)).cast(DecimalType(38, 0)).as("n") +:
        sum(col("qn")).as("sn") +:
        (0 until dim).map(i =>
          sum(col(s"u$i").cast(DecimalType(38, 0))).as(s"s$i")) :+
        sum(rowSS.cast(DecimalType(38, 0))).as("ssq")
    q.agg(aggs.head, aggs.tail: _*)
  }

  /** Column-wise decimal re-fold of anisotropy moment rows — the S30
    * state merge. Input must be in [[anisotropyMoments]] layout. */
  def mergeAnisotropyMoments(moments: DataFrame, dim: Int): DataFrame = {
    val aggs: Seq[Column] =
      sum("n").as("n") +: sum("sn").as("sn") +:
        (0 until dim).map(i => sum(col(s"s$i")).as(s"s$i")) :+
        sum("ssq").as("ssq")
    moments.agg(aggs.head, aggs.tail: _*)
  }

  /** Terminal half of [[anisotropy]]: the pinned IEEE sequence
    * (left-to-right per-dim fold, one subtraction, one division);
    * mean_cos is NULL below two usable vectors. */
  def anisotropyFromMoments(m: DataFrame, dim: Int): DataFrame = {
    def D(c: Column) = c.cast("double")
    val fold = (0 until dim).map(i =>
      (D(col(s"s$i")) / lit(1000000.0)) *
        (D(col(s"s$i")) / lit(1000000.0))).reduce(_ + _)
    val nD = D(col("n"))
    val meanCos = (fold - D(col("ssq")) / lit(1.0e12)) /
      (nD * (nD - lit(1.0)))
    m.select(col("n").cast("long").as("n_used"),
      (round(D(col("sn")) / nD / lit(1000000.0), 6) + 0.0).as("mean_norm"),
      (round(when(col("n") > 1, meanCos), 6) + 0.0).as("mean_cos"))
  }

  /** Embedding DRIFT between two corpus slices, per label — x24's
    * vector-space sibling: did the embedding distribution move between
    * crawl halves / snapshots? Per label: both slice sizes, the
    * squared L2 distance between slice MEAN vectors, and their cosine.
    * A label whose halves' means diverge is drifting content; cosine
    * near 1 with nonzero L2 is pure magnitude shift.
    *
    * Determinism: per-slice per-dim sums are exact decimals on the
    * 1e-6 grid (order-free); each mean is ONE division; the L2/cosine
    * folds run left-to-right in dimension order — the identical IEEE
    * sequence the oracle's generated 64-term chains replay; round-6
    * + 0.0 washes the terminal ops.
    *
    * Scale shape: one wide groupBy(label, slice) aggregation (no
    * explode), then all math on the label-cardinality join of the two
    * slice tables. */
  def embedDrift(df: DataFrame, labelCol: String, vecCol: String,
      sliceA: Column, dim: Int = 64): DataFrame = {
    val xs = (0 until dim).map(i =>
      element_at(col(vecCol), i + 1).cast("double"))
    val q = df.select(col(labelCol).cast("string").as("label") +:
      sliceA.as("in_a") +:
      (0 until dim).map(i =>
        floor(xs(i) * 1000000.0).cast(DecimalType(38, 0)).as(s"q$i")): _*)
    val aggs: Seq[Column] =
      count(lit(1)).as("n") +:
        (0 until dim).map(i => sum(col(s"q$i")).as(s"s$i"))
    val g = q.groupBy("label", "in_a").agg(aggs.head, aggs.tail: _*)
    val a = g.filter(col("in_a")).select(col("label") +:
      col("n").as("n_a") +: (0 until dim).map(i => col(s"s$i").as(s"a$i")): _*)
    val b = g.filter(!col("in_a")).select(col("label") +:
      col("n").as("n_b") +: (0 until dim).map(i => col(s"s$i").as(s"b$i")): _*)
    def mean(pfx: String, n: String, i: Int): Column =
      col(s"$pfx$i").cast("double") / col(n).cast("double") / lit(1000000.0)
    def fold(f: Int => Column): Column = (0 until dim).map(f).reduce(_ + _)
    val l2 = fold(i => (mean("a", "n_a", i) - mean("b", "n_b", i)) *
      (mean("a", "n_a", i) - mean("b", "n_b", i)))
    val dot = fold(i => mean("a", "n_a", i) * mean("b", "n_b", i))
    val na2 = fold(i => mean("a", "n_a", i) * mean("a", "n_a", i))
    val nb2 = fold(i => mean("b", "n_b", i) * mean("b", "n_b", i))
    a.join(b, Seq("label"))
      .select(col("label"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        (round(l2, 6) + 0.0).as("l2_sq"),
        (round(dot / (sqrt(na2) * sqrt(nb2)), 6) + 0.0).as("cos_means"))
  }

  /** The terminal half of [[diversityByLabel]]: per-label rows plus the
    * "all" fold, one pinned IEEE division sequence per row.
    *
    * "all" is a RESERVED label (the synthetic corpus-wide fold row):
    * an input label with that exact string value would surface as a
    * second, indistinguishable "all" row. Contract, not runtime check —
    * an eager filter-scan here would re-trigger the whole upstream
    * moments pass (corpus-sized at scale) just to police a label
    * collision; callers with free-form string labels must exclude or
    * rename "all" before calling. */
  def diversityFromMoments(perLabel: DataFrame, dim: Int): DataFrame = {
    val allAggs: Seq[Column] =
      sum("n").as("n") +:
        (0 until dim).map(i => sum(col(s"s$i")).as(s"s$i")) :+
        sum("ssq").as("ssq")
    val allRow = perLabel.agg(allAggs.head, allAggs.tail: _*)
      .select(lit("all").as("label") +: col("n") +:
        (0 until dim).map(i => col(s"s$i")) :+ col("ssq"): _*)
    def finish(rows: DataFrame): DataFrame = {
      val ss = (0 until dim).map(i => col(s"s$i") * col(s"s$i"))
        .reduce(_ + _)
      rows.select(col("label"), col("n").cast("long").as("n_vecs"),
        when(col("n") > 1,
          ((col("n") * col("ssq") - ss) * lit(2)).cast("double") /
            (col("n") * (col("n") - lit(1))).cast("double") /
            lit(1000000000000.0))
          .as("mean_sq_dist"))
    }
    finish(perLabel).unionByName(finish(allRow))
  }
}
