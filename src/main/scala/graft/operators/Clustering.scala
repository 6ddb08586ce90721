package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Settle
import graft.expressions.Kernels

/** Distributed k-means (Lloyd) over an embedding column — the actual
  * coarse quantizer behind SemDeDup / IVF at web scale (the md5-sample
  * quantizer of [[Dedup.semanticDedup]] and `Similarity.ivfTopK` is its
  * zero-iteration special case), and the generic corpus-structuring
  * primitive (topic bucketing, stratified curation, per-cluster
  * sampling) of a training-data pipeline.
  *
  * Determinism (the property that makes an exact oracle possible):
  *  - init = the md5-order sample ([[Similarity.md5Sample]]: k corpus
  *    vectors, cid 0..k-1 in md5 order) — no RNG, layout-independent;
  *  - assignment ranks by relative squared euclidean distance
  *    ip(c,c) − 2·ip(v,c) with ties broken toward the smaller cid;
  *  - each update re-syncs: per-dim means are rounded to 6 decimals
  *    (the [[EmbedStats]] precedent), so partial-merge float-order
  *    wobble never leaks into the next iteration's comparisons;
  *  - an emptied cell keeps its previous centroid.
  *
  * Scale shape: centroids (k·dim doubles — model state, not data) ride
  * into the nearest-centroid kernel
  * ([[graft.expressions.Kernels.nearestCentroid]]) as codegen reference
  * objects, so each assignment is a MAP-ONLY pass over the corpus whose
  * generated code — and its Janino compile — is shared across all
  * iterations; each update is one mergeable [[VectorOps.meanPool]]
  * aggregate shuffling only k partial sums per partition. Per
  * iteration: one map pass + one k-row shuffle — textbook scalable
  * Lloyd. The driver collects k·dim doubles per iteration (model
  * state); corpus vectors are never collected. kmeans|| init is the
  * documented scale-up swap for the deterministic sample init. */
object Clustering {

  // (d, cid) of the nearest current centroid: d = ip(c,c) − 2·ip(v,c)
  private def ranked(cs: Array[(Int, Array[Double])]): Column =
    Kernels.nearestCentroid(col("v"), cs.map { case (cid, cv) => (cid.toLong, cv) })

  /** The Lloyd fit over a pre-cast (id, v) frame — the model-state
    * producer shared by [[kmeansAssign]] and [[silhouetteSimplified]].
    * `v` is cached for the fit loop only (the init collect and each
    * iteration's aggregate would re-scan and re-cast the source); the
    * caller's read recomputes from the scan once, lazily. */
  private def fitCentroids(vIn: DataFrame, k: Int, iters: Int,
      initSalt: String = ""): Array[(Int, Array[Double])] = Settle.scope("kmeansFit") { st =>
    val v = st.cache(vIn)
    // init: md5-order deterministic sample, cid = position in that
    // order; initSalt prefixes the md5 input, giving an independent
    // (but equally deterministic) init per salt — the device e12's
    // stability read uses to get two comparable fits ("" preserves the
    // historical order byte-for-byte: md5('' || id) == md5(id))
    var cents: Array[(Int, Array[Double])] =
      Similarity.md5Sample(v, k, initSalt).zipWithIndex.map { case ((_, cv), i) => (i, cv) }
    for (_ <- 1 to iters) {
      val means = v.withColumn("cell",
          element_at(ranked(cents), 2).cast("int"))
        .groupBy("cell")
        .agg(VectorOps.meanPool(col("v")).as("raw"))
        .select(col("cell"), transform(col("raw"), x => round(x, 6)).as("cv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  private def castVecs(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))

  /** Runs `iters` Lloyd iterations and returns the final assignment:
    * (id, cluster, dist) with dist = euclidean distance to the final
    * centroid, rounded to 6 decimals. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3, initSalt: String = ""): DataFrame = {
    val v = castVecs(df, idCol, vecCol)
    val win = ranked(fitCentroids(v, k, iters, initSalt))
    v.select(col("id"), element_at(win, 2).cast("int").as("cluster"),
        round(sqrt(greatest(lit(0.0),
          element_at(win, 1) + VectorOps.dot(col("v"), col("v")))), 6)
          .as("dist"))
  }

  /** Simplified (centroid-based) silhouette per cluster — the O(n·k)
    * cluster-quality read (Hruschka et al. 2004; sklearn's exact
    * silhouette is O(n²) pairwise and does not scale): a(i) = distance
    * to OWN (nearest) centroid, b(i) = distance to the nearest OTHER
    * centroid, s(i) = (b−a)/max(a,b) (0 when both are 0 — the point IS
    * a centroid of two coincident cells). Returns per-cluster
    * (cluster, n, mean_sil); mean_sil ∈ [−1, 1], higher = tighter,
    * better-separated cluster.
    *
    * Scale shape: the fit is [[fitCentroids]] (map pass + k-row
    * shuffle per iteration); the quality read is ONE map-only pass —
    * per row a k-element literal-centroid struct array sorted by
    * (d, cid) gives own (rank 1) and nearest-other (rank 2) in a
    * single evaluation — plus one k-group aggregate. Per-row s rounds
    * to 6 dp and sums as DECIMAL(20,6) so the cluster means are exact
    * at any partitioning; the division to the mean is one double op,
    * IEEE-identical in the oracle. */
  def silhouetteSimplified(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = castVecs(df, idCol, vecCol)
    val cents = fitCentroids(v, k, iters)
    // full (d, cid) array — unlike the argmin-only NearestCentroid
    // expression, the quality read needs rank 2 as well; k structs of
    // literal centroids, sorted lexicographically = (d asc, cid asc)
    val dArr = array_sort(array(cents.map { case (cid, cv) =>
      struct(
        (lit(VectorOps.selfDot(cv)) -
          VectorOps.dot(col("v"), array(cv.map(lit(_)): _*)) * 2.0).as("d"),
        lit(cid.toLong).as("cid"))
    }: _*))
    val ipvv = VectorOps.dot(col("v"), col("v"))
    v.withColumn("ds", dArr)
      .select(col("id"),
        col("ds")(0).getField("cid").as("cluster"),
        sqrt(greatest(lit(0.0), col("ds")(0).getField("d") + ipvv)).as("a"),
        sqrt(greatest(lit(0.0), col("ds")(1).getField("d") + ipvv)).as("b"))
      .select(col("cluster"),
        round(when(greatest(col("a"), col("b")) === 0.0, 0.0)
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))), 6)
          .as("sil"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        (sum(col("sil").cast(DecimalType(20, 6))).cast("double") /
          count(lit(1))).as("mean_sil"))
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal)
    * — DIVERSE subset selection over an embedding corpus: start from
    * the smallest id (deterministic, layout-free), then k−1 times pick
    * the vector FARTHEST from everything selected so far (squared
    * euclidean; ties → smaller id). The classic 2-approximation to the
    * k-center cover, and the coverage-sampling read of a data-curation
    * pipeline (pick prompts/docs that SPAN the space rather than
    * cluster-mass-weighted samples — the complement of d10's
    * redundancy removal). Returns one row per selected center: its
    * selection step, the covering radius at selection (= how far the
    * farthest uncovered point was), and the final census of vectors
    * nearest to it.
    *
    * Scale shape: each of the k steps is ONE map-only pass (the shared
    * [[graft.expressions.Kernels.nearestCentroid]] reference-object
    * kernel — same Janino compile across steps) + a
    * TakeOrderedAndProject(1) — no shuffle of vectors, no pairwise
    * materialization; driver state = k centers (model state, the
    * pageRank regime-precedent). The census is one more map pass + a
    * k-group aggregate. O(n·k) distance evals per run (k small by
    * contract; the incremental dmin column is the documented swap when
    * k grows). */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8): DataFrame = {
    val v = castVecs(df, idCol, vecCol)
    // cached for the k-step loop only; the census reads the scan
    val sel = Settle.scope("kCenterCoreset") { st =>
      val vc = st.cache(v)
      val seed = vc.orderBy("id").limit(1).collect()(0)
      var sel = Vector((0, seed.getLong(0), seed.getSeq[Double](1).toArray,
        Option.empty[Double]))
      while (sel.size < k) {
        val cents = sel.map(s => (s._1, s._3)).toArray
        val far = vc.select(col("id"), col("v"),
            (element_at(ranked(cents), 1) +
              VectorOps.dot(col("v"), col("v"))).as("d2"))
          .orderBy(desc("d2"), asc("id")).limit(1).collect()(0)
        sel = sel :+ ((sel.size, far.getLong(0),
          far.getSeq[Double](1).toArray, Some(far.getDouble(2))))
      }
      sel
    }
    val cents = sel.map(s => (s._1, s._3)).toArray
    val census = v
      .select(element_at(ranked(cents), 2).cast("long").as("step"))
      .groupBy("step").agg(count(lit(1)).as("n_assigned"))
    val selDf = v.sparkSession
      .createDataFrame(sel.map(s => (s._1.toLong, s._2,
        s._4.map(d2 => math.sqrt(math.max(0.0, d2))))))
      .toDF("step", "center_id", "radius_raw")
    selDf.join(census, Seq("step"), "left")
      .select(col("step"), col("center_id"),
        (round(col("radius_raw"), 6) + lit(0.0)).as("radius"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
      .orderBy("step")
  }
}
